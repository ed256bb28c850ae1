package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.ext._
import graft.stream.CdcStream

/** The declared query surface: one entry per operator from SURVEY.md §2
  * (+ §7.5 extensions), each with a DuckDB-equivalent oracle where
  * SQL-expressible. Single source of truth — `SparkEntry.queries` and
  * `SparkEntry.oracleSql` both derive from [[Catalog.entries]] so a key
  * can never exist in one map and not the other by accident.
  *
  * Determinism contract (SURVEY §7.4): every query ends with an explicit
  * ORDER BY on a unique key, doubles are rounded to 6 dp on BOTH sides,
  * count-like outputs are cast to the same integer width DuckDB produces.
  */
object Catalog {
  type Q = (SparkSession, String) => DataFrame

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  private val K = Fixture.Key // Seq("l_orderkey", "l_linenumber")
  private def keyCols: Seq[Column] = K.map(col)

  /** Changed-member delta for the tribe-agg queries: distinct customers
    * touched "this run" (reference joins `player_new`, the per-run delta —
    * post_update.py:36-37). Derivation: customers of orders with
    * o_orderkey % 10 == 0.
    */
  private def activeDelta(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
      .select(col("o_custkey")).distinct()

  private val allStopwords: Seq[String] = TextStats.LangStopwords.flatMap(_._2)

  /** Final-ORDER-BY wrapper for queries whose sort input is an expensive
    * join/aggregate subtree (r15, guide §7.2): a global orderBy plans as
    * Exchange(rangepartitioning), and the range-bound SAMPLING job
    * re-executes the exchange's whole child — the r15 stage profiles
    * read every such query's final subtree TWICE (e.g. text_bpe_apply:
    * two ~270 task-s stages; dedup_substring_winnowed: two ~230 task-s
    * final-aggregate executions at 15.7 GB spill each). Persisting the
    * sort input makes the sampling pass POPULATE the cache and the
    * shuffle map pass read it — the child computes once. Map-only
    * projection queries don't need this (they hoist the projection
    * above the sort instead — see text_bpe_apply); this is for children
    * a hoist can't cross (aggregates, joins). One live slot: each call
    * releases the previous query's cache (CacheSlot discipline; the
    * bench/Verify consume each query fully before the next).
    */
  private val sortedSlot = new CacheSlot
  private def sortedOut(df: DataFrame, cols: String*): DataFrame =
    sortedSlot.swap(df).orderBy(cols.map(col): _*)

  /** Fixed query set for `text_bm25_search` (terms from the fixture
    * vocabulary so every query has hits).
    */
  /** ONE contamination contract, two engine paths: `text_contamination`
    * (plain exact join) and `text_contamination_bloom` (broadcast-Bloom
    * prefilter + exact verify) both compare against this SQL — sharing
    * the val is the proof they claim identical semantics.
    */
  private val contaminationOracle: String =
    """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM dd),
      |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh FROM x),
      |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
      |  CAST(count(bench.sh) AS BIGINT) AS n_contaminated,
      |  round(CAST(count(bench.sh) AS DOUBLE) / count(*), 6) AS contamination
      |FROM sh LEFT JOIN bench ON sh.sh = bench.sh
      |WHERE sh.doc_id % 97 <> 0
      |GROUP BY doc_id HAVING count(bench.sh) > 0
      |ORDER BY doc_id""".stripMargin

  private val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "hash join spark",
    2 -> "window sort order",
    3 -> "vector stream batch")

  /** Memoized end-to-end LSH near-dup clusters over `documents` —
    * minhash → band buckets → candidate pairs → Jaccard ≥ 0.5 verify →
    * connected components. Computed once per (session, dir) and shared by
    * `dedup_clusters` and `dedup_keep_best` (compute-once-consume-many,
    * same shape as [[Fixture.kinds]]).
    */
  private val lshClusterCache = new QueryCache("documents.parquet")

  private def lshClusters(s: SparkSession, d: String): DataFrame =
    lshClusterCache.get(s, d) { (ss, dd) =>
      Dedup.lshDedupClusters(docs(ss, dd), "doc_id", "text",
        threshold = 0.5, shingleN = 3, k = 8, bands = 4)
    }

  /** Memoized keep-best resolution (cluster_id, kept_id, quality) —
    * shared by `dedup_keep_best` and `dedup_export` so the quality scan,
    * cluster join, and per-cluster top-k run once per (session, dir).
    */
  private val keepBestCache = new QueryCache("documents.parquet")

  private def keepBest(s: SparkSession, d: String): DataFrame =
    keepBestCache.get(s, d) { (ss, dd) =>
      val withCluster = docs(ss, dd).select(col("doc_id").as("id"),
          TextStats.qualityScore(col("text")).as("quality"))
        .join(lshClusters(ss, dd), Seq("id"))
        .select(col("id"), col("cluster_id"), col("quality"))
      graft.plans.TopK.perGroup(withCluster, Seq("cluster_id"),
        Seq(("quality", false), ("id", true)), 1)
        .select(col("cluster_id"), col("id").as("kept_id"), col("quality"))
    }

  /** Memoized cross-modal dedup resolution (id, cluster_id, kept_id) —
    * the CC resolution reruns per invocation otherwise (the two
    * input signals are already memoized; the composition is not free).
    */
  private val multimodalCache = new QueryCache("documents.parquet")

  private def multimodalResolution(s: SparkSession, d: String): DataFrame =
    multimodalCache.get(s, d) { (ss, dd) =>
      import org.apache.spark.sql.expressions.Window
      val text = lshClusters(ss, dd)
        .select(col("id"), col("cluster_id").as("label"))
      val img = mmImageFeats(ss, dd)
        .filter(col("decode_ok"))
        .select(col("media_id").as("id"),
          min("media_id").over(Window.partitionBy("ahash")).as("label"))
      val cc = Dedup.composeSignals(Seq(text, img))
      val labeled = docs(ss, dd).select(col("doc_id").as("id"))
        .join(cc, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      val withQ = docs(ss, dd).select(col("doc_id").as("id"),
          TextStats.qualityScore(col("text")).as("quality"))
        .join(labeled, Seq("id"))
        .select(col("id"), col("cluster_id"), col("quality"))
      val kept = graft.plans.TopK.perGroup(withQ, Seq("cluster_id"),
        Seq(("quality", false), ("id", true)), 1)
        .select(col("cluster_id"), col("id").as("kept_id"))
      labeled.join(kept, Seq("cluster_id"))
        .select(col("id"), col("cluster_id"), col("kept_id"))
    }

  /** Memoized shadow-planted embedding corpus for `dedup_embedding_cosine`:
    * every vector plus a deterministic ±0.02/dim perturbed copy (cos ≈
    * 0.996 to its source). Persisted so the interpreted `transform`
    * perturbation and the base scan run ONCE, not once per consumer
    * branch of the near-dup plan (bucket index + two by-id fetches).
    */
  private val embShadowCache = new QueryCache("embeddings.parquet")

  private def embShadowed(s: SparkSession, d: String): DataFrame =
    embShadowCache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd).select(col("vec_id"), col("embedding"))
      // shadow ids live at +IdStride/2 inside each replica's id band —
      // collision-free ONLY while base ids stay below that offset, so the
      // guard is woven into the id expression itself (a detached check
      // would be optimizer-pruned): a future fixture with ≥ IdStride/2
      // vectors per replica fails loudly instead of silently aliasing
      // shadows onto real vectors and corrupting the planted ground truth
      val off = ScaledFixtures.IdStride / 2
      val guardedId = when(pmod(col("vec_id"), lit(ScaledFixtures.IdStride)) < lit(off),
          col("vec_id"))
        .otherwise(raise_error(concat(
          lit(s"embShadowed: vec_id band position >= $off aliases shadow ids: "),
          col("vec_id").cast("string"))).cast("long"))
      val shadow = e.select((guardedId + lit(off)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") +
            (pmod(xxhash64(col("vec_id"), lit(777), i), lit(2001L)) - lit(1000L))
              .cast("double") / lit(50000.0)).cast("float")).as("embedding"))
      e.unionByName(shadow)
    }

  /** Memoized md5-PLANTED embedding corpus (the `dedup_semantic_md5`
    * discipline): every vector plus a shadow at +1000000 whose per-dim
    * perturbation is derived from md5 of `sem:<base_id>:<dim>` — both
    * engines hash the same strings and round through float/REAL, so the
    * planted values are bit-identical and every downstream geometry
    * (axis-sign cells, cosine) is cross-engine checkable. Perturbation
    * ±0.0125/dim ⇒ planted cos ≈ 0.998, far above any random pair
    * (≤ ~0.6 at 64 dims) — no threshold ever decides within float
    * noise. Shared by `dedup_semantic_md5`, `dedup_embedding_cosine_md5`
    * and `dedup_vec_ingest_gate_md5`; persisted so the interpreted md5
    * transform runs once, not once per plan branch / state-machine wave.
    */
  private val embSemCache = new QueryCache("embeddings.parquet")

  private def embSemPlanted(s: SparkSession, d: String): DataFrame =
    embSemCache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      // the hash input must be the BASE id: naming it uniquely keeps the
      // lambda's reference from resolving against the +offset output alias
      val shadow = e.select(col("vec_id").as("base_id"), col("embedding"))
        .select((col("base_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") +
              (conv(substring(md5(concat(lit("sem:"), col("base_id").cast("string"),
                lit(":"), i.cast("string"))), 1, 4), 16, 10).cast("double")
                - lit(32767.5)) / lit(2621400.0)).cast("float")).as("embedding"))
      e.unionByName(shadow)
    }

  /** Memoized REAL image features (JDK ImageIO decode of the synthetic
    * per-doc PNG corpus): rendered + decoded once per (session, dir),
    * shared by `mm_image_features` and `mm_image_neardup`.
    */
  private val mmFeatsCache = new QueryCache("documents.parquet")

  /** Memoized RENDERED image corpus (the synthetic per-doc PNG payloads),
    * materialized ONCE to scratch parquet and re-read from there:
    * rendering is fixture synthesis, not the decode operator, and the
    * split lets the scale probe time decode alone (r5's probe conflated
    * the two and attributed the render's encode churn to the decode
    * path). On-disk parquet, not a block-manager persist — a 2M-doc
    * payload corpus is ~10 GB of PNGs, which OOMs an executor-memory
    * cache but is exactly what a real media table looks like at rest:
    * the decode path reads a binary column off parquet, as it would in
    * production.
    */
  private val mmMediaCache = new ValueCache[String]("documents.parquet")(
    identity, _ => ())

  private def mmImageMedia(s: SparkSession, d: String): DataFrame = {
    val path = mmMediaCache.get(s, d) { (ss, dd) =>
      val p = scratchDir("mm_media", dd)
      Multimodal.renderMedia(ss, docs(ss, dd), "doc_id")
        .write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Probe/bench hook: force the rendered PNG corpus onto scratch disk so
    * a subsequent `mm_image_*` timing measures DECODE, not synthesis (the
    * parquet write happens eagerly inside the cache compute).
    */
  def warmImageMedia(s: SparkSession, d: String): Unit = { mmImageMedia(s, d); () }

  private def mmImageFeats(s: SparkSession, d: String): DataFrame =
    mmFeatsCache.get(s, d) { (ss, dd) =>
      Multimodal.imageFeatures(ss, mmImageMedia(ss, dd)).toDF()
    }

  /** Memoized MIXED media corpus (PNG / WAV / MJPEG-AVI by `doc_id % 3`)
    * for the magic-dispatch decode query — same scratch-parquet
    * materialization rationale as [[mmImageMedia]]: synthesis is fixture
    * creation, decode reads a binary column off parquet like production.
    */
  private val mmMixedCache = new ValueCache[String]("documents.parquet")(
    identity, _ => ())

  private def mmMixedMedia(s: SparkSession, d: String): DataFrame = {
    val path = mmMixedCache.get(s, d) { (ss, dd) =>
      val p = scratchDir("mm_mixed_media", dd)
      val ids = docs(ss, dd)
      Multimodal.renderMedia(ss, ids.filter(col("doc_id") % 3 === 0), "doc_id")
        .unionByName(Multimodal.renderAudioMedia(ss,
          ids.filter(col("doc_id") % 3 === 1), "doc_id"))
        .unionByName(Multimodal.renderVideoMedia(ss,
          ids.filter(col("doc_id") % 3 === 2), "doc_id"))
        .write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Memoized REAL video frame features (MJPEG-AVI demux + per-frame
    * JPEG decode of the synthetic per-doc video corpus): rendered +
    * decoded once per (session, dir), shared by `mm_frame_sample` and
    * `mm_video_dedup_check`.
    */
  private val mmVideoCache = new QueryCache("documents.parquet")

  private def mmVideoFrames(s: SparkSession, d: String): DataFrame =
    mmVideoCache.get(s, d) { (ss, dd) =>
      Multimodal.videoFrameFeatures(ss,
        Multimodal.renderVideoMedia(ss, docs(ss, dd), "doc_id"), nFrames = 3).toDF()
    }

  /** Memoized similarity-search building blocks shared across the sim_*
    * family: the exact brute-force top-k is the ground truth for BOTH
    * recall queries and the oracled `sim_topk_brute`; the banded-LSH
    * top-k feeds `sim_ann_lsh` and `sim_recall_lsh`; the IVF top-k feeds
    * `sim_ivf` and `sim_recall_ivf`. Each is computed once per
    * (session, dir) — at 200k bench vectors the brute scan and the LSH
    * probe dominate the family's cost, and without memoization each ran
    * 2-3× (once per consuming query).
    */
  private val simBruteCache = new QueryCache("embeddings.parquet")

  private def simBrute5(s: SparkSession, d: String): DataFrame =
    simBruteCache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      Similarity.bruteTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    }

  private val simAnnLshCache = new QueryCache("embeddings.parquet")

  private def simAnnLsh5(s: SparkSession, d: String): DataFrame =
    simAnnLshCache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      Similarity.annTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, planes = 6, bands = 8)
    }

  /** Memoized AXIS-PLANE LSH twin (see the `sim_ann_lsh_md5` entry):
    * [[Similarity.annTopK]] with [[Similarity.axisBucketBand]] planes —
    * identical banded candidate-join / dedup / cosine-rerank machinery,
    * deterministic buckets. Shared by `sim_ann_lsh_md5` and
    * `sim_recall_lsh_md5`.
    */
  private val simAnnLshMd5Cache = new QueryCache("embeddings.parquet")

  private def simAnnLshMd5Top5(s: SparkSession, d: String): DataFrame =
    simAnnLshMd5Cache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      Similarity.annTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, planes = 6, bands = 8, bucketFn = Similarity.axisBucketBand)
    }

  /** Memoized BUILT IVF index (not just its top-k result): the KMeans
    * quantizer train + assignment pass is the expensive part (~17 s at
    * 200k vectors), and both the in-memory probe (`sim_ivf`) and the
    * persisted-layout probe (`sim_ivf_persisted`) consume the same index.
    */
  private val simIvfIdxCache = new ValueCache[IvfIndex.Index]("embeddings.parquet")(
    idx => { idx.assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); idx },
    idx => idx.assigned.unpersist())

  private def simIvfIndex(s: SparkSession, d: String): IvfIndex.Index =
    simIvfIdxCache.get(s, d) { (ss, dd) =>
      // right-sized quantizer: nlist = √n (defaultNlist), nprobe = 16 —
      // measured at 200k vectors: recall@5 = 0.92 probing 3.6% of the
      // corpus, vs the old nlist=8/nprobe=2 which probed 25% for 0.80.
      // With nlist = √n the probed fraction keeps SHRINKING as the
      // corpus grows (16/√n); a fixed tiny nlist was a scan in disguise.
      IvfIndex.build(ss, embs(ss, dd), "vec_id", "embedding")
    }

  /** Memoized PQ codebooks + encoded corpus: the codebook train (driver
    * Lloyd's on a bounded sample) and the one encode pass are shared by
    * `sim_pq_rerank` and `sim_recall_pq`. 16 subspaces × 32 centroids
    * over 64 dims: 16 B/vector (16× vs float32).
    */
  private val pqModelCache = new ValueCache[Pq.Model]("embeddings.parquet")(
    m => m, _ => ())

  private def pqModel(s: SparkSession, d: String): Pq.Model =
    pqModelCache.get(s, d) { (ss, dd) =>
      Pq.train(embs(ss, dd), "vec_id", "embedding", m = 16, ks = 32)
    }

  private val pqCodesCache = new QueryCache("embeddings.parquet")

  private def pqCodes(s: SparkSession, d: String): DataFrame =
    pqCodesCache.get(s, d) { (ss, dd) =>
      Pq.encode(embs(ss, dd), "vec_id", "embedding", pqModel(ss, dd))
    }

  private val pqRerankCache = new QueryCache("embeddings.parquet")

  private def pqRerank5(s: SparkSession, d: String): DataFrame =
    pqRerankCache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      Pq.rerankTopK(pqCodes(ss, dd), e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", pqModel(ss, dd), k = 5, shortlist = 64)
    }

  /** Memoized maintenance-path probe for `sim_ivf_delta`: seed the
    * persisted layout from 90% of the corpus, applyDelta the held-out
    * vec_id % 10 == 0 slice in, run the health-gated maintenance cadence
    * (a +11% delta is below the corpus-doubling rebuild trigger, so the
    * check runs and correctly declines — the trigger path itself is
    * exercised to a rebuild in IvfIndexSpec), probe the MAINTAINED
    * layout. Its own cache — the quantizer is trained on the seed slice,
    * so it cannot share [[simIvfIndex]].
    */
  private val simIvfDeltaCache = new QueryCache("embeddings.parquet")

  private def simIvfDelta5(s: SparkSession, d: String): DataFrame =
    simIvfDeltaCache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      val dir = scratchDir("sim_ivf_delta", dd)
      val delta = e.filter(col("vec_id") % 10 === 0)
      val idx = IvfIndex.build(ss, e.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding")
      IvfIndex.write(idx, dir)
      IvfIndex.applyDelta(ss, dir, upserts = delta, deletes = delta.limit(0),
        "vec_id", "embedding")
      val h = IvfIndex.maintain(ss, dir)
      require(!h.needsRebuild, s"unexpected rebuild after +11% delta: ${h.reason}")
      val maintained = IvfIndex.load(ss, dir)
      IvfIndex.topK(ss, maintained, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5,
        nprobe = math.min(16, maintained.centroids.length), pruneScan = true)
    }

  private val simIvfCache = new QueryCache("embeddings.parquet")

  private def simIvf5(s: SparkSession, d: String): DataFrame =
    simIvfCache.get(s, d) { (ss, dd) =>
      val idx = simIvfIndex(ss, dd)
      IvfIndex.topK(ss, idx, embs(ss, dd).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = math.min(16, idx.centroids.length))
    }

  /** Memoized sign-cell IVF lifecycle (see the `sim_ivf_md5` entry for
    * the full design note): build on the % 10 != 0 seed → write →
    * applyDelta (% 10 == 0 upserts, % 10 == 5 deletes) → load → pruned
    * top-5. Shared by `sim_ivf_md5` and `sim_recall_ivf_md5` so the
    * persisted-state machinery runs once per (session, dir).
    */
  private val simIvfMd5Cache = new QueryCache("embeddings.parquet")

  private def simIvfMd5Top5(s: SparkSession, d: String): DataFrame =
    simIvfMd5Cache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      val dir = scratchDir("sim_ivf_md5", dd)
      val idx = IvfIndex.buildCells(ss, e.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", bits = 6)
      IvfIndex.write(idx, dir)
      IvfIndex.applyDelta(ss, dir,
        upserts = e.filter(col("vec_id") % 10 === 0),
        deletes = e.filter(col("vec_id") % 10 === 5).select("vec_id"),
        "vec_id", "embedding")
      val loaded = IvfIndex.load(ss, dir)
      IvfIndex.topK(ss, loaded, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, pruneScan = true)
    }

  /** Memoized PERSISTED-leg sign-cell probe (`sim_ivf_persisted_md5`):
    * build on the FULL corpus → write the list-partitioned layout →
    * re-load → pruned top-5. Isolates the storage path the production
    * `sim_ivf_persisted` runs, under the DuckDB-replayable quantizer.
    */
  private val simIvfPersistedMd5Cache = new QueryCache("embeddings.parquet")

  private def simIvfPersistedMd5Top5(s: SparkSession, d: String): DataFrame =
    simIvfPersistedMd5Cache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      val dir = scratchDir("sim_ivf_persisted_md5", dd)
      IvfIndex.write(IvfIndex.buildCells(ss, e, "vec_id", "embedding", bits = 6), dir)
      val loaded = IvfIndex.load(ss, dir)
      IvfIndex.topK(ss, loaded, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, pruneScan = true)
    }

  /** Memoized DELTA-maintenance-leg sign-cell probe (`sim_ivf_delta_md5`),
    * mirroring the production `sim_ivf_delta` shape: seed on
    * vec_id % 10 != 0 → write → applyDelta the held-out 10% (upserts
    * only) → maintenance health check (a +11% delta correctly DECLINES a
    * rebuild) → probe the maintained layout. Post-delta contents are the
    * full corpus, so the oracle replays that flattened state.
    */
  private val simIvfDeltaMd5Cache = new QueryCache("embeddings.parquet")

  private def simIvfDeltaMd5Top5(s: SparkSession, d: String): DataFrame =
    simIvfDeltaMd5Cache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      val dir = scratchDir("sim_ivf_delta_md5", dd)
      IvfIndex.write(IvfIndex.buildCells(ss, e.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", bits = 6), dir)
      IvfIndex.applyDelta(ss, dir,
        upserts = e.filter(col("vec_id") % 10 === 0),
        deletes = e.limit(0).select("vec_id"),
        "vec_id", "embedding")
      val h = IvfIndex.maintain(ss, dir)
      require(!h.needsRebuild, s"unexpected rebuild after +11% delta: ${h.reason}")
      val maintained = IvfIndex.load(ss, dir)
      IvfIndex.topK(ss, maintained, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, pruneScan = true)
    }

  /** Memoized sign-grid PQ two-stage search, shared by `sim_pq_rerank_md5`
    * and `sim_recall_pq_md5` so the encode + ADC scan runs once per
    * (session, dir).
    */
  private val pqRerankMd5Cache = new QueryCache("embeddings.parquet")

  private def pqRerankMd5Top5(s: SparkSession, d: String): DataFrame =
    pqRerankMd5Cache.get(s, d) { (ss, dd) =>
      val e = embs(ss, dd)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val model = Pq.gridModel(dim, m = dim / 4)
      val codes = Pq.encode(e, "vec_id", "embedding", model)
      Pq.rerankTopK(codes, e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, shortlist = 64)
    }

  /** Memoized DSIR log-weight scoring (doc_id, n_feats, log_w) over the
    * doc_id % 11 pool split — shared by the two consumers inside
    * `corpus_dsir_select` (the budget count + the selection) and across
    * repeat invocations. Release is the QueryCache eviction hook, NOT an
    * in-body unpersist: the r12 in-body fix protected the unpersist with
    * an eager localCheckpoint of the ENTIRE selection output inside the
    * timed query, a 4x regression on both DSIR queries (VERDICT r12
    * What's-wrong #1) that also blinded PlanAuditSpec to the real plan.
    */
  private val dsirScoredCache = new QueryCache("documents.parquet")

  private def dsirScored(s: SparkSession, d: String): DataFrame =
    dsirScoredCache.get(s, d) { (ss, dd) =>
      val all = docs(ss, dd)
      val target = all.filter(col("doc_id") % 11 === 0)
      val raw = all.filter(col("doc_id") % 11 =!= 0)
      Dsir.logWeights(Dsir.fit(target, raw, "doc_id", "text"),
        raw, "doc_id", "text")
    }

  /** Materialize a SMALL (bounded-by-construction) frame to a local plan
    * literal: one action, then every downstream consumer reads driver
    * rows instead of re-deriving the frame from the corpus — the
    * [[graft.ext.Dsir.fitFromCounts]] model discipline, exposed for
    * query bodies whose small intermediates feed several consumers
    * (e.g. the ≤4096-row DSIR bucket-count states). Callers must know
    * the bound; this is NOT for data-sized frames.
    */
  private def localFrame(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows.toIndexedSeq, 1), df.schema)
  }

  /** One-file parquet write (streaming file sources deliver whole files;
    * one file == one deterministic micro-batch).
    */
  private def writeSingleFile(df: DataFrame, dir: String, name: String): Unit = {
    import java.nio.file._
    val tmp = Files.createTempDirectory("graft_single")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      Files.move(part, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
    } finally graft.core.Pipeline.deleteRecursively(tmp)
  }

  /** Scratch state directory for side-effecting harness queries, keyed
    * by (query, input dir, pid). Pid-scoped so a CONCURRENT second JVM
    * (e.g. Bench while a Verify runs) cannot wipe this process's live
    * streaming state; dirs left by DEAD pids are garbage-collected on
    * every call, so repeated rounds never accumulate corpus copies. The
    * latest run's state stays on disk (the returned DataFrame may read
    * it lazily). Own-pid deletion is scoped to the EXACT `$safe-$pid`
    * target being recreated: wiping every own-pid sibling would pull the
    * state out from under a previously returned (lazily reading) frame
    * for a different dataset dir in the same JVM.
    */
  private def scratchDir(query: String, d: String): String = {
    val safe = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val pid = java.lang.ProcessHandle.current().pid()
    val parent = java.nio.file.Paths.get(s"target/qstate/$query")
    if (java.nio.file.Files.isDirectory(parent)) {
      val listing = java.nio.file.Files.list(parent)
      try listing.forEach { sib =>
        val name = sib.getFileName.toString
        val owner = name.substring(name.lastIndexOf('-') + 1).toLongOption
        val ownerAlive = owner.exists(o =>
          java.lang.ProcessHandle.of(o).map[Boolean](_.isAlive).orElse(false))
        if (!ownerAlive || name == s"$safe-$pid")
          graft.core.Pipeline.deleteRecursively(sib)
      } finally listing.close()
    }
    val p = parent.resolve(s"$safe-$pid")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** (rewritten, linked) bucket-partition counts of `snapshot/v=N`:
    * a bucket dir whose every parquet file shares an inode with the same
    * file in v=N-1 was carried over by hard link (never rewritten);
    * anything else was written by version N's batch.
    */
  private def bucketShareStats(base: String, v: Long): (Long, Long) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def ino(p: java.nio.file.Path): Long =
      Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
    val cur = Paths.get(s"$base/snapshot/v=$v")
    val prev = Paths.get(s"$base/snapshot/v=${v - 1}")
    val listing = Files.list(cur)
    try {
      val dirs = listing.iterator.asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(s"${BucketedSnapshot.BucketCol}=")).toSeq
      val linked = dirs.count { dir =>
        val prevDir = prev.resolve(dir.getFileName.toString)
        Files.isDirectory(prevDir) && {
          val fs = Files.list(dir)
          try {
            val parts = fs.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
            parts.nonEmpty && parts.forall { f =>
              val pf = prevDir.resolve(f.getFileName.toString)
              Files.exists(pf) && ino(pf) == ino(f)
            }
          } finally fs.close()
        }
      }
      (dirs.size.toLong - linked, linked.toLong)
    } finally listing.close()
  }

  // ---------------------------------------------------------------- entries

  /** Shared by `text_idf` (from-scratch) and `text_idf_incremental`
    * (delta-maintained): the two queries must agree EXACTLY, and running
    * both against one oracle is that proof at the driver's t2 gate.
    */
  private val IdfOracle =
    """WITH w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
      |           FROM documents),
      |n AS (SELECT count(*) AS n FROM documents),
      |f AS (SELECT word, count(*) AS df FROM w GROUP BY word)
      |SELECT word, df, round(ln(CAST(n.n AS DOUBLE) / df), 6) AS idf
      |FROM f, n ORDER BY df DESC, word LIMIT 50""".stripMargin

  final case class Entry(name: String, q: Q, oracle: Option[String])

  val entries: Seq[Entry] = Seq(
    // ----- §2.1 scans
    // NB: raw lineitem's (l_orderkey, l_linenumber) is NOT unique, so every
    // row-level lineitem query sorts by ALL output columns — remaining ties
    // are bit-identical rows, making row order fully deterministic.
    Entry("scan_full",
      (s, d) => { val df = li(s, d); df.orderBy(df.columns.map(col): _*) },
      Some("""SELECT * FROM lineitem ORDER BY l_orderkey, l_partkey, l_suppkey,
             | l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
             | l_returnflag, l_linestatus, l_shipdate""".stripMargin)),

    Entry("scan_schema",
      (s, d) => { // runtime schema discovery (reference table.py:66-75);
        // with parquet the schema travels with the data
        import s.implicits._
        Seq("lineitem", "orders")
          .flatMap(t => Tables.load(s, d, t).schema.fieldNames.map(c => (t, c)))
          .toDF("table_name", "column_name")
          .orderBy("table_name", "column_name")
      },
      Some("""SELECT DISTINCT table_name, column_name FROM information_schema.columns
             |WHERE table_name IN ('lineitem', 'orders') ORDER BY 1, 2""".stripMargin)),

    Entry("count_star",
      (s, d) => li(s, d).agg(count(lit(1)).as("cnt")),
      Some("SELECT count(*) AS cnt FROM lineitem")),

    // ----- §2.2 projections / filters
    Entry("project_columns",
      (s, d) => { // schema-driven dynamic select list (reference table.py:76-93)
        val df = li(s, d)
        import org.apache.spark.sql.types._
        val cols = df.schema.fields.collect {
          case f if Seq(LongType, IntegerType, ShortType, ByteType, StringType)
            .contains(f.dataType) => f.name
        }.toSeq
        df.select(cols.map(col): _*).orderBy(cols.map(col): _*)
      },
      Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_returnflag, l_linestatus
             |FROM lineitem
             |ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_returnflag, l_linestatus""".stripMargin)),

    Entry("row_signature",
      (s, d) => cust(s, d).select(col("c_custkey"),
        md5(concat_ws("|", col("c_custkey").cast("string"), col("c_name"),
          col("c_nationkey").cast("string"), col("c_mktsegment")).cast("binary")).as("sig"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, md5(concat_ws('|', CAST(c_custkey AS VARCHAR), c_name,
             | CAST(c_nationkey AS VARCHAR), c_mktsegment)) AS sig
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    Entry("computed_scores",
      (s, d) => {
        val scored = Scores.withScores(li(s, d))
        val outCols = K ++ Scores.scoreExprs.map(_._1)
        scored.select(keyCols ++ Scores.scoreExprs.map { case (n, _) => round(col(n), 6).as(n) }: _*)
          .orderBy(outCols.map(col): _*)
      },
      Some(s"""SELECT l_orderkey, l_linenumber, ${Oracles.scoreSelectList}
              |FROM lineitem
              |ORDER BY l_orderkey, l_linenumber, score_stats, score_shaman,
              | score_survivor, score_racing, score_defilante""".stripMargin)),

    Entry("score_overall",
      (s, d) => Scores.withOverall(Scores.withScores(li(s, d)))
        .select(keyCols :+ round(col("score_overall"), 6).as("score_overall"): _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("score_overall")),
      Some(s"""SELECT l_orderkey, l_linenumber,
              | round(score_stats/35.564 + score_shaman/24.956 + score_survivor/1.580
              |   + score_racing/0.861 + score_defilante/2.851, 6) AS score_overall
              |FROM (SELECT l_orderkey, l_linenumber, ${Oracles.scoreSelectListRaw} FROM lineitem)
              |ORDER BY l_orderkey, l_linenumber, score_overall""".stripMargin)),

    Entry("name_normalize",
      (s, d) => {
        val base = when(col("c_custkey") % 2 === 0,
          regexp_replace(col("c_name"), "#", "-")).otherwise(col("c_name"))
        cust(s, d).select(col("c_custkey"), Scores.normalizeName(base).as("name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             | CASE WHEN base NOT LIKE '%#%' THEN base || '#0000' ELSE base END AS name
             |FROM (SELECT c_custkey,
             |  CASE WHEN c_custkey % 2 = 0 THEN replace(c_name, '#', '-') ELSE c_name END AS base
             |  FROM customer)
             |ORDER BY c_custkey""".stripMargin)),

    Entry("filter_in_keys",
      (s, d) => Tables.load(s, d, "orders")
        .filter(col("o_custkey").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L))
        .orderBy("o_orderkey"),
      Some("""SELECT * FROM orders WHERE o_custkey IN (1,2,3,5,8,13,21,34,55,89)
             |ORDER BY o_orderkey""".stripMargin)),

    Entry("sample_hash",
      (s, d) => // reproducible ~10% sample: md5-prefix predicate, not
        // rand() — the same rows are sampled on every engine and run
        docs(s, d)
          .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < "1a")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
             |ORDER BY doc_id""".stripMargin)),

    Entry("sample_temperature",
      // temperature-based source mixing (T5/Pile style): per-language
      // sampling rate ∝ share^(α-1) with α = 0.5, i.e. rate_l =
      // min(1, (n_l / max_share_count)^(α-1) scaled so the LARGEST
      // source keeps rate 1·base and smaller sources are UP-weighted
      // toward uniform. Computed in two map-side passes: a tiny
      // per-language count aggregate broadcast back, then the same
      // deterministic md5-threshold predicate as sample_hash — no rand,
      // reproducible on any engine, and the mixing weights derive from
      // the DATA, not a hardcoded table. Base rate 0.5 keeps the
      // expected sample about half the corpus, rebalanced.
      (s, d) => {
        val base = 0.5
        val counts = docs(s, d).groupBy("lang").agg(count(lit(1)).as("n_l"))
        val maxN = counts.agg(max("n_l")).first().getLong(0).toDouble
        val rated = counts.withColumn("rate",
          least(lit(1.0), lit(base) * sqrt(lit(maxN) / col("n_l"))))
        val hx = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
        val hv = conv(hx, 16, 10).cast("long") // 0..65535
        // floor, explicitly, on BOTH engines: Spark's double→long cast
        // truncates, DuckDB's rounds — an implicit cast here flips
        // boundary rows between the two
        docs(s, d).join(broadcast(rated), Seq("lang"))
          .filter(hv < floor(col("rate") * 65536).cast("long"))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
             |m AS (SELECT max(n_l) AS mx FROM c),
             |r AS (SELECT lang, least(1.0, 0.5 * sqrt(CAST(mx AS DOUBLE) / n_l)) AS rate
             |      FROM c, m)
             |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
             |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
             |      < CAST(floor(r.rate * 65536) AS BIGINT)
             |ORDER BY d.doc_id""".stripMargin)),

    Entry("corpus_mix_schedule",
      // deterministic training-mixture SCHEDULE (Mix.schedule): the T5/
      // Pile "mixture weights × token budget" step sample_temperature's
      // per-row Bernoulli cannot express (admission there never sees
      // the running total, so it cannot hit a token BUDGET). α = 0.5
      // temperature weights in INTEGER arithmetic (floor∘sqrt is
      // correctly rounded IEEE — reproducible anywhere, unlike ln),
      // target_s = (budget·sw_s) div Σsw; each source admits docs in
      // md5 order while cum_before < target; step interleaves sources
      // round-robin. The per-source cumsum is two-phase (16-way hex
      // shards + broadcast offsets — the packSequences prefix-scan
      // discipline), never a one-task-per-source window.
      (s, d) => Mix.schedule(docs(s, d), "doc_id", "source", "text", 0.4),
      Some(graft.queries.Oracles.mixScheduleOracle)),

    Entry("corpus_epoch_shards",
      // (named corpus_shard_shuffle in the r13 records — renamed before
      // the near-collision with the older corpus_shuffle_shard pinned
      // itself into more tracked artifacts, ADVICE r13)
      // deterministic training-epoch shard shuffle (ext/Shard): every
      // doc gets a reproducible pseudo-random position for epoch 3 and
      // lands round-robin in one of 8 shards — balanced to ±1 by
      // construction, both assignment and within-shard order a pure
      // function of (epoch, id), so a dataloader (or a crash retry)
      // re-derives the identical plan with no stored permutation.
      // Ranking is the distributedRank two-phase prefix scan, never a
      // global one-task window. The oracle replays the md5 permutation
      // and the round-robin split exactly.
      (s, d) => Shard.epochShards(docs(s, d), "doc_id", nShards = 8, epoch = 3)
        .orderBy("doc_id"),
      Some("""WITH ranked AS (
             |  SELECT doc_id,
             |    ROW_NUMBER() OVER (
             |      ORDER BY md5('ep:3:' || CAST(doc_id AS VARCHAR)), doc_id)
             |      - 1 AS r
             |  FROM documents)
             |SELECT doc_id, CAST(r % 8 AS INT) AS shard,
             |       CAST(r // 8 AS BIGINT) AS pos
             |FROM ranked ORDER BY doc_id""".stripMargin)),

    Entry("corpus_shard_shuffle",
      // compatibility alias of corpus_epoch_shards: the r13 records
      // declared this computation under this name, and the round
      // contract forbids a declared query from disappearing — the
      // ADVICE-r13 rename keeps the new unambiguous name above while
      // this entry preserves the old one (same body, same oracle).
      (s, d) => Shard.epochShards(docs(s, d), "doc_id", nShards = 8, epoch = 3)
        .orderBy("doc_id"),
      Some("""WITH ranked AS (
             |  SELECT doc_id,
             |    ROW_NUMBER() OVER (
             |      ORDER BY md5('ep:3:' || CAST(doc_id AS VARCHAR)), doc_id)
             |      - 1 AS r
             |  FROM documents)
             |SELECT doc_id, CAST(r % 8 AS INT) AS shard,
             |       CAST(r // 8 AS BIGINT) AS pos
             |FROM ranked ORDER BY doc_id""".stripMargin)),

    Entry("corpus_domain_cap",
      // per-domain quota capping (the RefinedWeb/C4 anti-over-
      // representation step): keep at most 10 docs per source, the
      // survivors chosen by deterministic md5 hash rank — a uniform
      // per-domain subsample that any engine replays, where rand()
      // would not. The per-group argmax runs through the house
      // TopKPerGroup physical operator (bounded per-group heaps,
      // partial before the exchange — never a full sort of the corpus,
      // never a one-task window per domain).
      (s, d) => {
        val hk = docs(s, d).select(col("doc_id"), col("source"),
          md5(concat(lit("cap:"), col("doc_id").cast("string"))
            .cast("binary")).as("hk"))
        graft.plans.TopK.perGroup(hk, Seq("source"),
            Seq(("hk", true), ("doc_id", true)), 10)
          .select(col("source"), col("doc_id"))
          .orderBy("source", "doc_id")
      },
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id)
             |      AS rn
             |  FROM documents) t
             |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin)),

    Entry("corpus_shuffle_shard",
      // training-order shuffle + shard assignment: a deterministic
      // pseudo-random permutation (rank by md5 of the id — reproducible
      // across engines, unlike engine-internal hashes) and the shard
      // each doc lands in when the shuffled order is split into 8 equal
      // output files. This is the last step of corpus prep — training
      // never consumes documents in ingest order. The rank comes from
      // Packing.distributedRank (two-phase prefix scan), NEVER a global
      // row_number window: an unpartitioned window serializes the whole
      // corpus through one task — the exact anti-pattern pack_sequences
      // exists to avoid. floor() on both engines (Spark cast truncates,
      // DuckDB's rounds).
      (s, d) => {
        val n = docs(s, d).count()
        val nShards = 8
        val key = md5(col("doc_id").cast("string").cast("binary"))
        Packing.distributedRank(
            docs(s, d).select(col("doc_id"), key.as("__k")),
            Seq(col("__k"), col("doc_id")))
          .select(col("doc_id"), col("rank"),
            floor(((col("rank") - 1) * nShards) / lit(n.toDouble)).cast("long")
              .as("shard"))
          .orderBy("doc_id")
      },
      Some("""WITH n AS (SELECT count(*) AS cnt FROM documents),
             |r AS (SELECT doc_id,
             |      CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             |           AS BIGINT) AS rank
             |      FROM documents)
             |SELECT doc_id, rank,
             |  CAST(floor(((rank - 1) * 8.0) / cnt) AS BIGINT) AS shard
             |FROM r, n ORDER BY doc_id""".stripMargin)),

    Entry("profile_heavy_hitters",
      // the skew DIAGNOSTIC feeding Skew.autoSaltJoin's hot set: exact
      // per-key frequencies (map-side combined — one small (key, n) row
      // per key crosses the wire), top-20 with share-of-total and the
      // n/mean skew factor autoSaltJoin thresholds on (> 8× ⇒ the key
      // gets salted). Declared so the hot-key math itself is oracled,
      // not just the salted join it feeds (SkewSpec).
      (s, d) => {
        val counts = Tables.loadEvents(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        val m = counts.agg(
          sum(col("n")).as("tot"), avg(col("n")).as("mean")).first()
        val (tot, mean) = (m.getLong(0), m.getDouble(1))
        counts.select(col("user_id"), col("n"),
            round(col("n").cast("double") / tot, 6).as("share"),
            round(col("n").cast("double") / mean, 6).as("skew"))
          .orderBy(col("n").desc, col("user_id")).limit(20)
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
             |m AS (SELECT CAST(sum(n) AS DOUBLE) AS tot, avg(n) AS mean FROM c)
             |SELECT user_id, n, round(CAST(n AS DOUBLE) / m.tot, 6) AS share,
             | round(CAST(n AS DOUBLE) / m.mean, 6) AS skew
             |FROM c, m ORDER BY n DESC, user_id LIMIT 20""".stripMargin)),

    Entry("profile_columns",
      (s, d) => { // schema-driven data profiling: the stat list is
        // derived from the discovered schema (table.py:66-93 pattern).
        // ONE aggregate emits every per-column stat wide — a single scan
        // of the table (the per-column countDistincts share one Expand) —
        // then stack() unpivots to the long schema. The previous shape
        // (one agg per column, unioned) scanned the table N_cols times.
        import org.apache.spark.sql.types._
        val df = li(s, d)
        val numeric = df.schema.fields
          .filter(f => f.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
        val aggs = numeric.flatMap { c => Seq(
          (count(lit(1)) - count(col(c))).as(s"${c}__n_nulls"),
          countDistinct(col(c)).as(s"${c}__n_distinct"),
          round(min(col(c)).cast("double"), 6).as(s"${c}__min_val"),
          round(max(col(c)).cast("double"), 6).as(s"${c}__max_val"))
        }
        val wide = df.agg(aggs.head, aggs.tail: _*)
        val stackArgs = numeric.map(c =>
          s"'$c', `${c}__n_nulls`, `${c}__n_distinct`, `${c}__min_val`, `${c}__max_val`")
          .mkString(", ")
        wide.select(expr(s"stack(${numeric.size}, $stackArgs) AS " +
            "(column_name, n_nulls, n_distinct, min_val, max_val)"))
          .orderBy("column_name")
      },
      Some {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map(c =>
          s"""SELECT '$c' AS column_name, count(*) - count($c) AS n_nulls,
             | count(DISTINCT $c) AS n_distinct,
             | round(CAST(min($c) AS DOUBLE), 6) AS min_val,
             | round(CAST(max($c) AS DOUBLE), 6) AS max_val FROM lineitem""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    Entry("profile_constraints",
      // Deequ-style declarative constraint suite (Checks.run): six
      // constraints over lineitem — completeness, two numeric ranges,
      // an accepted-value set, compound-key uniqueness, and referential
      // containment in orders — ALL evaluated in one aggregation pass
      // (the RefIn left join folds into the same scan's lineage; the
      // countDistinct shares it via Expand). The admission gate a
      // 100 TB ingest runs per batch before committing: adding a
      // constraint adds an aggregate column, never a table pass.
      // Metrics are round(sum(indicator)/count, 6) — identical integer
      // divisions on both engines — and `passed` compares the ROUNDED
      // metric, so the flags cross engines too. The uniqueness row is
      // the suite's deliberate RED row: the CDC fixture generator
      // reuses (l_orderkey, l_linenumber) across versions, so the
      // failure-reporting path is exercised (and oracled) on real data.
      (s, d) => Checks.run(li(s, d), Seq(
        Checks.NotNull("l_returnflag"),
        Checks.Between("l_quantity", 1.0, 50.0),
        Checks.Between("l_discount", 0.0, 0.1),
        Checks.InSet("l_returnflag", Seq("A", "N", "R")),
        Checks.Unique(Seq("l_orderkey", "l_linenumber")),
        Checks.RefIn("l_orderkey", Tables.load(s, d, "orders"), "o_orderkey"))),
      Some("""WITH refd AS (SELECT DISTINCT o_orderkey FROM orders),
             |j AS (SELECT l.*, CASE WHEN r.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS refok
             |      FROM lineitem l LEFT JOIN refd r ON l.l_orderkey = r.o_orderkey),
             |a AS (SELECT count(*) AS n,
             |        sum(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS m_nn,
             |        sum(CASE WHEN CAST(l_quantity AS DOUBLE) BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END) AS m_q,
             |        sum(CASE WHEN CAST(l_discount AS DOUBLE) BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS m_d,
             |        sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS m_set,
             |        count(DISTINCT (l_orderkey, l_linenumber)) AS m_u,
             |        sum(refok) AS m_ref
             |      FROM j)
             |SELECT chk, metric, CAST(metric >= thr AS INT) AS passed FROM (
             |  SELECT 'not_null(l_returnflag)' AS chk,
             |    round(CAST(m_nn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS metric, 1.0 AS thr FROM a
             |  UNION ALL SELECT 'between(l_quantity,1.0,50.0)',
             |    round(CAST(m_q AS DOUBLE) / CAST(n AS DOUBLE), 6), 1.0 FROM a
             |  UNION ALL SELECT 'between(l_discount,0.0,0.1)',
             |    round(CAST(m_d AS DOUBLE) / CAST(n AS DOUBLE), 6), 1.0 FROM a
             |  UNION ALL SELECT 'in_set(l_returnflag)',
             |    round(CAST(m_set AS DOUBLE) / CAST(n AS DOUBLE), 6), 1.0 FROM a
             |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
             |    round(CAST(m_u AS DOUBLE) / CAST(n AS DOUBLE), 6), 1.0 FROM a
             |  UNION ALL SELECT 'ref_in(l_orderkey)',
             |    round(CAST(m_ref AS DOUBLE) / CAST(n AS DOUBLE), 6), 1.0 FROM a
             |) ORDER BY chk""".stripMargin)),

    Entry("profile_constraints_incremental",
      // the constraint suite under MAINTENANCE: per-batch additive
      // constraint STATES (Checks.state — satisfied-count + row-count
      // per constraint) merged by exact SUM (Checks.mergeStates), so a
      // 100 TB table's admission metrics update per delta without ever
      // re-scanning the corpus — the sketch-table discipline applied to
      // data quality, pinned in-query by merge_exact against the
      // from-scratch Checks.run. Uniqueness is NOT additive, so it
      // rides the SAME maintenance shape approximately: md5-HLL
      // register tables over the compound key (Sketches.md5HllRegisters
      // composed ungrouped), committed ∪ delta max-merged — register
      // merge is exactly idempotent, so its merge_exact pin is value
      // equality too. RefIn indicators price each batch against the
      // parent AS OF that batch (the honest CDC semantics).
      (s, d) => {
        val l = li(s, d)
        val checks = Seq(
          Checks.NotNull("l_returnflag"),
          Checks.Between("l_quantity", 1.0, 50.0),
          Checks.Between("l_discount", 0.0, 0.1),
          Checks.InSet("l_returnflag", Seq("A", "N", "R")),
          Checks.RefIn("l_orderkey", Tables.load(s, d, "orders"), "o_orderkey"))
        val committed = l.filter(col("l_orderkey") % 10 =!= 0)
        val delta = l.filter(col("l_orderkey") % 10 === 0)
        val inc = Checks.metricsFromState(
          Checks.mergeStates(Checks.state(committed, checks),
            Checks.state(delta, checks)), checks)
        val full = Checks.run(l, checks)
          .withColumnRenamed("metric", "metric_full").drop("passed")
        val base = inc.join(full, Seq("chk"))
          .withColumn("merge_exact",
            (col("metric") === col("metric_full")).cast("int"))
          .select(col("chk"), col("metric"), col("passed"),
            col("metric_full"), col("merge_exact"))
        // approximate uniqueness under the same maintenance shape; the
        // three scalars below are 1-row aggregates (driver-sized)
        val key = concat_ws(":", col("l_orderkey"), col("l_linenumber"))
        def regs(df: org.apache.spark.sql.DataFrame) =
          Sketches.md5HllRegisters(df.withColumn("__k", key), Nil, "__k")
        val n = l.count()
        val estFull = Sketches.md5HllEstimate(regs(l), Nil, "est")
          .head().getDouble(0)
        val estMerged = Sketches.md5HllEstimate(
          Sketches.md5HllMerge(regs(committed), regs(delta), Nil), Nil, "est")
          .head().getDouble(0)
        val ratio = BigDecimal(estMerged / n).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        val ratioFull = BigDecimal(estFull / n).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        val uniq = s.range(1).select(
          lit("unique_approx(l_orderkey,l_linenumber)").as("chk"),
          lit(ratio).as("metric"),
          lit(if (ratio >= 0.7) 1 else 0).as("passed"),
          lit(ratioFull).as("metric_full"),
          lit(if (estFull == estMerged) 1 else 0).as("merge_exact"))
        base.unionByName(uniq).orderBy("chk")
      },
      Some(graft.queries.Oracles.constraintsIncrementalOracle)),

    // ----- §2.3/2.4 the CDC diff algebra
    Entry("hash_diff",
      (s, d) => Fixture.kinds(s, d).orderBy(keyCols: _*),
      Some(s"""${Fixture.OracleCtes},
              |${Oracles.kindsCte}
              |SELECT l_orderkey, l_linenumber, kind FROM kinds
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Entry("semi_join_changed",
      (s, d) => {
        val kinds = Fixture.kinds(s, d)
        Diff.semiJoinChanged(Fixture.external(s, d),
          kinds.filter(col("kind").isin("changed", "new")), K)
          .orderBy(keyCols: _*)
      },
      Some(s"""${Fixture.OracleCtes},
              |${Oracles.kindsCte}
              |SELECT e.* FROM external e JOIN kinds k
              |  ON e.l_orderkey = k.l_orderkey AND e.l_linenumber = k.l_linenumber
              |WHERE k.kind IN ('changed', 'new')
              |ORDER BY e.l_orderkey, e.l_linenumber""".stripMargin)),

    Entry("anti_join_deleted",
      (s, d) => Diff.antiJoinDeleted(Fixture.internal(s, d), Fixture.external(s, d), K)
        .orderBy(keyCols: _*),
      Some(s"""${Fixture.OracleCtes}
              |SELECT i.* FROM internal i
              |WHERE NOT EXISTS (SELECT 1 FROM external e
              |  WHERE e.l_orderkey = i.l_orderkey AND e.l_linenumber = i.l_linenumber)
              |ORDER BY i.l_orderkey, i.l_linenumber""".stripMargin)),

    Entry("changelog_join",
      (s, d) => {
        val kinds = Fixture.kinds(s, d)
        Changelog.captureOld(Fixture.internal(s, d),
          kinds.filter(col("kind") === "changed"), K)
          .orderBy(keyCols: _*)
      },
      Some(s"""${Fixture.OracleCtes},
              |${Oracles.kindsCte}
              |SELECT i.* FROM internal i JOIN kinds k
              |  ON i.l_orderkey = k.l_orderkey AND i.l_linenumber = k.l_linenumber
              |WHERE k.kind = 'changed'
              |ORDER BY i.l_orderkey, i.l_linenumber""".stripMargin)),

    Entry("upsert_replace",
      (s, d) => {
        val e = Fixture.external(s, d)
        val kinds = Fixture.kinds(s, d)
        val fetched = Diff.semiJoinChanged(e, kinds.filter(col("kind").isin("changed", "new")), K)
        Diff.upsertReplace(Fixture.internal(s, d), fetched, K).orderBy(keyCols: _*)
      },
      Some(s"""${Fixture.OracleCtes},
              |${Oracles.kindsCte},
              |fetched AS (SELECT e.* FROM external e JOIN kinds k
              |  ON e.l_orderkey = k.l_orderkey AND e.l_linenumber = k.l_linenumber
              |  WHERE k.kind IN ('changed', 'new'))
              |SELECT * FROM (
              |  SELECT i.* FROM internal i WHERE NOT EXISTS (SELECT 1 FROM fetched f
              |    WHERE f.l_orderkey = i.l_orderkey AND f.l_linenumber = i.l_linenumber)
              |  UNION ALL SELECT * FROM fetched)
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Entry("diff_apply",
      (s, d) => {
        val e = Fixture.external(s, d)
        Diff.diffApply(Fixture.internal(s, d), e, K, Fixture.dataCols(e))
          .orderBy(keyCols: _*)
      },
      // the CDC round-trip contract: apply(diff(i, e), i) == e
      Some(s"""${Fixture.OracleCtes}
              |SELECT * FROM base ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Entry("diff_apply_evolve",
      // SCHEMA EVOLUTION through the CDC apply path: the source gains a
      // column mid-stream (the replicator applies the ALTER as a NULL
      // backfill on the replica, then keeps diffing on the ORIGINAL
      // data columns so existing signatures stay valid — no full
      // resync). Fetched rows (changed/new) carry the new column's
      // values; unchanged rows keep NULL until they next change —
      // incremental-CDC semantics (values arrive only with refetched
      // rows), proven against a DuckDB replay of exactly that contract.
      (s, d) => {
        // ×2 is exact in binary floating point — no round() whose
        // half-up/half-even divergence across engines would flip cents
        val extra = col("l_extendedprice") * 2
        val i = Fixture.internal(s, d)
          .withColumn("l_extra", lit(null).cast("double"))
        val e = Fixture.external(s, d).withColumn("l_extra", extra)
        // diff on the ORIGINAL columns only: the new column must not
        // perturb signatures (it would reclassify every row "changed"
        // and force a full refetch — the failure mode this entry pins).
        // And BECAUSE the diff ignores l_extra, the pre-ALTER kinds are
        // still valid — the apply reuses the memoized classification
        // instead of re-deriving both (key, sig) projections, which is
        // exactly what a live replicator does across an ALTER (r7
        // measured the re-classify at ~4× the plain apply)
        Diff.applyClassified(i, e, Fixture.kinds(s, d), K)
          .orderBy(keyCols: _*)
      },
      Some(s"""${Fixture.OracleCtes},
              |${Oracles.kindsCte}
              |SELECT b.*, CASE WHEN k.kind = 'unchanged' THEN NULL
              |                 ELSE b.l_extendedprice * 2 END AS l_extra
              |FROM base b JOIN kinds k
              |  ON k.l_orderkey = b.l_orderkey AND k.l_linenumber = b.l_linenumber
              |WHERE k.kind <> 'deleted'
              |ORDER BY b.l_orderkey, b.l_linenumber""".stripMargin)),

    Entry("diff_apply_scaled",
      // the CDC core at SYNTHETIC scale, declared so its at-scale
      // throughput is tracked round-over-round like the dedup family
      // (the fixture diffs ~600k keys at sf0.1; this runs 100k × the sf
      // multiplier — 10M keys at sf0.1):
      // ~1% changed / 0.5% new / 0.5% deleted, full classify + apply.
      // Output: per-kind counts plus the applied snapshot's row count —
      // wrong classification or apply algebra shifts the counts.
      (s, d) => {
        val n = 100000L * ScaledFixtures.multiplier(d)
        val internal = s.range(n)
          .selectExpr("id", "hash(id, 1) AS a", "hash(id, 2) AS b")
          .filter(col("id") % 200 =!= 0) // these exist only externally -> new
        val external = s.range(n).selectExpr("id",
            "CASE WHEN id % 100 = 1 THEN hash(id, 99) ELSE hash(id, 1) END AS a",
            "hash(id, 2) AS b")
          .filter(col("id") % 200 =!= 3) // these vanish -> deleted
        val kinds = Diff.classify(internal, external, Seq("id"), Seq("a", "b"))
          .groupBy("kind").agg(count(lit(1)).as("n"))
        val applied = Diff.diffApply(internal, external, Seq("id"), Seq("a", "b"))
          .select(lit("applied_rows").as("kind"))
          .groupBy("kind").agg(count(lit(1)).as("n"))
        kinds.unionByName(applied).orderBy("kind")
      },
      // ORACLED (new r9): the synthetic corpus is pure id arithmetic —
      // the hash(id, seed) VALUES are engine-internal, but which rows
      // differ is decided entirely by the id rules (a differs iff
      // id % 100 = 1, external-only iff id % 200 = 0, internal-only iff
      // id % 200 = 3), so DuckDB replays the full_outer classify + apply
      // algebra over range(n) and must land the identical per-kind
      // counts. A Spark md5-signature collision would break the
      // id-rule equivalence — and fail this oracle loudly, which is the
      // correct outcome. n tracks the sf multiplier via lineitem's
      // exact 6000×mult row count (1M keys at the driver's sf0.01 gate).
      Some("""WITH m AS (SELECT CAST(count(*) / 6000 AS BIGINT) AS mult FROM lineitem),
             |ids AS (SELECT unnest(range(100000 * (SELECT mult FROM m))) AS id),
             |internal AS (SELECT id FROM ids WHERE id % 200 <> 0),
             |external AS (SELECT id, (id % 100 = 1) AS a_diff FROM ids WHERE id % 200 <> 3),
             |kinds AS (
             |  SELECT CASE WHEN i.id IS NULL THEN 'new'
             |              WHEN e.id IS NULL THEN 'deleted'
             |              WHEN e.a_diff THEN 'changed'
             |              ELSE 'unchanged' END AS kind
             |  FROM internal i FULL OUTER JOIN external e ON e.id = i.id)
             |SELECT kind, n FROM (
             |  SELECT kind, count(*) AS n FROM kinds GROUP BY kind
             |  UNION ALL
             |  SELECT 'applied_rows' AS kind, count(*) AS n
             |  FROM kinds WHERE kind <> 'deleted')
             |ORDER BY kind""".stripMargin)),

    // ----- §2.6 window
    Entry("changelog_latest",
      (s, d) => {
        val e = Fixture.external(s, d)
        val internal = Fixture.internal(s, d)
        val changedKeys = Fixture.kinds(s, d)
          .filter(col("kind") === "changed")
        val oldV = internal.join(changedKeys.select(keyCols: _*), K, "left_semi")
          .select(keyCols :+ col("l_quantity") :+ lit(1).as("version"): _*)
        val newV = e.join(changedKeys.select(keyCols: _*), K, "left_semi")
          .select(keyCols :+ col("l_quantity") :+ lit(2).as("version"): _*)
        Changelog.latest(oldV.unionByName(newV), K, "version").orderBy(keyCols: _*)
      },
      Some(s"""${Fixture.OracleCtes},
              |${Oracles.kindsCte},
              |clog AS (
              |  SELECT i.l_orderkey, i.l_linenumber, i.l_quantity, 1 AS version
              |  FROM internal i JOIN kinds k ON i.l_orderkey = k.l_orderkey
              |    AND i.l_linenumber = k.l_linenumber AND k.kind = 'changed'
              |  UNION ALL
              |  SELECT e.l_orderkey, e.l_linenumber, e.l_quantity, 2 AS version
              |  FROM external e JOIN kinds k ON e.l_orderkey = k.l_orderkey
              |    AND e.l_linenumber = k.l_linenumber AND k.kind = 'changed')
              |SELECT l_orderkey, l_linenumber, l_quantity, version FROM (
              |  SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
              |    ORDER BY version DESC) AS rn FROM clog) WHERE rn = 1
              |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----- §2.3/2.5 tribe aggregates (nation=tribe, customer=member/player, orders delta)
    Entry("join_tribe_members",
      (s, d) => {
        val n = Tables.load(s, d, "nation")
        val c = cust(s, d)
        val o = Tables.load(s, d, "orders")
        broadcast(n).join(c, col("n_nationkey") === col("c_nationkey"))
          .join(o, col("c_custkey") === col("o_custkey"))
          .select(col("n_nationkey"), col("n_name"), col("c_custkey"),
            col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT n.n_nationkey, n.n_name, c.c_custkey, o.o_orderkey, o.o_totalprice
             |FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
             |JOIN orders o ON c.c_custkey = o.o_custkey
             |ORDER BY o.o_orderkey""".stripMargin)),

    Entry("left_join_active",
      (s, d) => cust(s, d)
        .join(broadcast(activeDelta(s, d)), col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"),
          when(col("o_custkey").isNull, 0).otherwise(1).as("is_active"))
        .orderBy("c_custkey"),
      Some(s"""${Oracles.deltaCte}
              |SELECT c.c_custkey, CASE WHEN d.o_custkey IS NULL THEN 0 ELSE 1 END AS is_active
              |FROM customer c LEFT JOIN delta d ON c.c_custkey = d.o_custkey
              |ORDER BY c.c_custkey""".stripMargin)),

    Entry("agg_count_nonnull",
      (s, d) => cust(s, d)
        .join(broadcast(activeDelta(s, d)), col("c_custkey") === col("o_custkey"), "left_outer")
        .agg(count(lit(1)).as("n_rows"), count(col("o_custkey")).as("n_active")),
      Some(s"""${Oracles.deltaCte}
              |SELECT count(*) AS n_rows, count(d.o_custkey) AS n_active
              |FROM customer c LEFT JOIN delta d ON c.c_custkey = d.o_custkey""".stripMargin)),

    Entry("group_tribe_active",
      (s, d) => TribeAgg.tribeActive(Tables.load(s, d, "nation"), cust(s, d),
          activeDelta(s, d), "n_nationkey", "c_nationkey", "c_custkey")
        .select(col("n_nationkey"), col("members"), col("active"),
          round(col("members_sqrt"), 6).as("members_sqrt"))
        .orderBy("n_nationkey"),
      Some(s"""${Oracles.deltaCte}
              |SELECT n.n_nationkey, count(c.c_custkey) AS members, count(d.o_custkey) AS active,
              |  round(pow(count(c.c_custkey), 0.5), 6) AS members_sqrt
              |FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |LEFT JOIN delta d ON c.c_custkey = d.o_custkey
              |GROUP BY n.n_nationkey ORDER BY n.n_nationkey""".stripMargin)),

    Entry("group_tribe_stats",
      (s, d) => {
        val n = Tables.load(s, d, "nation")
        val c = cust(s, d)
        // exact decimal sum: double-summation order differs between Spark's
        // partial aggregates and DuckDB, which flips round(x, 6) at this
        // magnitude; decimal is associative → bit-identical in both engines
        val o = Tables.load(s, d, "orders")
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
        val active = TribeAgg.tribeActive(n, c, activeDelta(s, d),
          "n_nationkey", "c_nationkey", "c_custkey")
        TribeAgg.tribeStats(n, c, o, activeDelta(s, d), "n_nationkey", "c_nationkey",
            "c_custkey", "o_custkey", Seq("o_totalprice"), precomputed = Some(active))
          .select(col("n_nationkey"), col("members"), col("active"),
            round(col("o_totalprice"), 6).as("o_totalprice"))
          .orderBy("n_nationkey")
      },
      Some(s"""${Oracles.deltaCte},
              |active AS (
              |  SELECT n.n_nationkey, count(c.c_custkey) AS members, count(d.o_custkey) AS active,
              |    pow(count(c.c_custkey), 0.5) AS members_sqrt
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  LEFT JOIN delta d ON c.c_custkey = d.o_custkey
              |  GROUP BY n.n_nationkey),
              |sums AS (
              |  SELECT n.n_nationkey, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  JOIN orders o ON o.o_custkey = c.c_custkey
              |  GROUP BY n.n_nationkey)
              |SELECT a.n_nationkey, a.members, a.active, round(s.s / a.members_sqrt, 6) AS o_totalprice
              |FROM active a JOIN sums s ON s.n_nationkey = a.n_nationkey
              |ORDER BY a.n_nationkey""".stripMargin)),

    // §2.5 "missing from reference, Spark covers natively": distinct aggs,
    // exact percentiles, rollup/grouping sets — declared + oracled here
    Entry("agg_percentiles",
      (s, d) => Tables.load(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             | round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
             | count(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    Entry("agg_rollup",
      (s, d) => Tables.load(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS total,
             | CAST(grouping(o_orderstatus) AS INT) AS g_status,
             | CAST(grouping(o_orderpriority) AS INT) AS g_prio
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Entry("agg_distinct_hll",
      // mergeable distinct sketches (Sketches.scala): the full-corpus HLL
      // estimate, the estimate from sketching a 90% "committed" slice and
      // union-merging the 10% delta's sketch (agrees within the sketch
      // error bound — delta-only maintenance is the 100 TB story), and
      // the exact count. Rows-only: Datasketches HLL isn't reproducible
      // in DuckDB; SketchesSpec pins the union algebra and error bound.
      (s, d) => {
        val l = li(s, d)
        val g = Seq("l_returnflag")
        val full = Sketches.estimates(
          Sketches.distinctSketch(l, g, "l_orderkey"), g)
          .withColumnRenamed("approx_distinct", "approx_full")
        val merged = Sketches.estimates(
          Sketches.mergeSketchTables(
            Sketches.distinctSketch(l.filter(col("l_orderkey") % 10 =!= 0), g, "l_orderkey"),
            Sketches.distinctSketch(l.filter(col("l_orderkey") % 10 === 0), g, "l_orderkey"),
            g), g)
          .withColumnRenamed("approx_distinct", "approx_merged")
        val exact = l.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
        full.join(merged, g).join(exact, g).orderBy("l_returnflag")
      },
      None),

    Entry("agg_distinct_hll_md5",
      // the ORACLED twin of agg_distinct_hll: classic md5-hashed
      // HyperLogLog built from plain relational ops (Sketches.md5Hll*),
      // same register geometry (m=4096) and same self-evidencing shape —
      // full-corpus estimate, 90%-committed ∪ 10%-delta merged estimate,
      // exact count — but every stage replays in DuckDB and the
      // ESTIMATES cross engines bit-for-bit. The merge path is pinned by
      // exact value equality (max-of-maxes ≡ full), not an error bound;
      // the error bound itself is crossed as a column so the oracle
      // checks it too. Datasketches stays the production path
      // (agg_distinct_hll); this is the cross-engine evidence that the
      // whole sketch mechanism — hash → register → merge → estimator
      // with small-range correction — is the textbook construction.
      (s, d) => {
        val l = li(s, d)
        val g = Seq("l_returnflag")
        val full = Sketches.md5HllEstimate(
          Sketches.md5HllRegisters(l, g, "l_orderkey"), g, "approx_full")
        val merged = Sketches.md5HllEstimate(
          Sketches.md5HllMerge(
            Sketches.md5HllRegisters(l.filter(col("l_orderkey") % 10 =!= 0), g, "l_orderkey"),
            Sketches.md5HllRegisters(l.filter(col("l_orderkey") % 10 === 0), g, "l_orderkey"),
            g), g, "approx_merged")
        val exact = l.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
        full.join(merged, g).join(exact, g)
          .withColumn("merge_exact",
            (col("approx_full") === col("approx_merged")).cast("int"))
          .withColumn("rel_err", round(
            abs(col("approx_full") - col("exact_distinct").cast("double")) /
              col("exact_distinct").cast("double"), 6))
          .orderBy("l_returnflag")
      },
      Some(graft.queries.Oracles.md5HllOracle)),

    Entry("agg_quantile_loghist",
      // the ORACLED twin of agg_quantile_sketch: a DDSketch-shaped
      // log-histogram quantile sketch (Sketches.logHistogram) whose
      // bucketing is integer bit arithmetic over exact cents — so the
      // whole sketch (bucketing, count merge, rank walk, mid-bucket
      // inversion) replays in DuckDB and the estimates cross engines
      // bit-for-bit. Counts merge by SUM, so the committed ∪ delta path
      // is pinned by exact value equality (merge ≡ full), like the
      // md5-HLL twin. KLL stays the production path (tighter rank
      // error, fixed-size state vs the histogram's value-range-bounded
      // bucket count); this is the cross-engine evidence for the
      // sketch-table maintenance discipline.
      (s, d) => {
        val l = li(s, d)
        val g = Seq("l_returnflag")
        val probs = Seq(0.5, 0.9, 0.99)
        val full = Sketches.logHistQuantiles(
          Sketches.logHistogram(l, g, "l_extendedprice"), g, probs, "full")
        val merged = Sketches.logHistQuantiles(
          Sketches.logHistMerge(
            Sketches.logHistogram(l.filter(col("l_orderkey") % 10 =!= 0), g, "l_extendedprice"),
            Sketches.logHistogram(l.filter(col("l_orderkey") % 10 === 0), g, "l_extendedprice"),
            g), g, probs, "merged")
        full.join(merged, g)
          .withColumn("merge_exact",
            (col("n_full") === col("n_merged") &&
              col("p50_full") === col("p50_merged") &&
              col("p90_full") === col("p90_merged") &&
              col("p99_full") === col("p99_merged")).cast("int"))
          .orderBy("l_returnflag")
      },
      Some(graft.queries.Oracles.logHistOracle)),

    Entry("agg_quantile_sketch",
      // mergeable QUANTILE sketches (KLL; SketchExpressions.scala): the
      // percentile sibling of agg_distinct_hll. Same self-evidencing
      // shape — full-corpus sketch quantiles, the 90%-committed ∪
      // 10%-delta merged sketch's quantiles, and the exact percentiles —
      // with the sketch-tracked n (EXACT by KLL's design, so the
      // maintenance invariant n_full == n_committed + n_delta is
      // asserted in-query, not just in the spec). Rows-only: KLL
      // compaction is randomized, so estimates carry a rank-error bound
      // rather than cross-engine equality; SketchesSpec pins the bound
      // and the merge algebra.
      (s, d) => {
        val l = li(s, d)
        val g = Seq("l_returnflag")
        val probs = Seq(0.5, 0.9, 0.99)
        def est(df: org.apache.spark.sql.DataFrame, tag: String) =
          Sketches.quantileEstimates(df, g, probs)
            .select(col("l_returnflag"), col("n").as(s"n_$tag"),
              element_at(col("quantiles"), 1).as(s"p50_$tag"),
              element_at(col("quantiles"), 2).as(s"p90_$tag"),
              element_at(col("quantiles"), 3).as(s"p99_$tag"))
        val full = est(Sketches.quantileSketch(l, g, "l_extendedprice"), "full")
        val merged = est(Sketches.mergeQuantileTables(
          Sketches.quantileSketch(l.filter(col("l_orderkey") % 10 =!= 0), g, "l_extendedprice"),
          Sketches.quantileSketch(l.filter(col("l_orderkey") % 10 === 0), g, "l_extendedprice"),
          g), "merged")
        val exact = l.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, 0.5)").as("p50_exact"),
            expr("percentile(l_extendedprice, 0.9)").as("p90_exact"),
            expr("percentile(l_extendedprice, 0.99)").as("p99_exact"))
        full.join(merged, g).join(exact, g)
          .withColumn("n_consistent", (col("n_full") === col("n_merged")).cast("int"))
          .orderBy("l_returnflag")
      },
      None),

    Entry("agg_cms_freq",
      // mergeable per-key FREQUENCY sketch (count-min, Cormode &
      // Muthukrishnan 2005) — the frequency sibling of the HLL
      // (distinct) and log-histogram (quantile) sketch tables, and the
      // sketch answer to `profile_heavy_hitters`' exact key-cardinality
      // table: d=4 × w=4096 counters (md5 row-salted cells, the
      // md5-HLL hex geometry), CONSTANT state in both corpus size and
      // key cardinality, maintained by sketching only the delta and
      // per-cell SUM. Self-evidencing shape: exact top-10 l_suppkey
      // frequencies vs the full sketch's min-query estimates vs the
      // 90%-committed ∪ 10%-delta merged sketch's — counts are
      // additive, so merge ≡ full is pinned by exact equality
      // (`merge_exact`), and `overcount = est − exact ≥ 0` exposes the
      // one-sided error for the oracle to cross-check bit-for-bit. The
      // probe side broadcasts the 16k-row counter table; the corpus is
      // touched exactly once.
      (s, d) => {
        val l = li(s, d)
        val exact = l.groupBy(col("l_suppkey")).agg(count(lit(1)).as("exact_n"))
        val probes = exact.orderBy(col("exact_n").desc, col("l_suppkey"))
          .limit(10).select("l_suppkey")
        val full = Sketches.cmsTable(l, "l_suppkey")
        val merged = Sketches.cmsMerge(
          Sketches.cmsTable(l.filter(col("l_orderkey") % 10 =!= 0), "l_suppkey"),
          Sketches.cmsTable(l.filter(col("l_orderkey") % 10 === 0), "l_suppkey"))
        Sketches.cmsEstimate(full, probes, "l_suppkey", "est_full")
          .join(Sketches.cmsEstimate(merged, probes, "l_suppkey", "est_merged"),
            Seq("l_suppkey"))
          .join(exact, Seq("l_suppkey"))
          .withColumn("merge_exact",
            (col("est_full") === col("est_merged")).cast("int"))
          .withColumn("overcount", col("est_full") - col("exact_n"))
          .select(col("l_suppkey"), col("exact_n"), col("est_full"),
            col("est_merged"), col("merge_exact"), col("overcount"))
          .orderBy("l_suppkey")
      },
      Some(graft.queries.Oracles.cmsFreqOracle)),

    Entry("sql_group_agg",
      (s, d) => { // the spark.sql text surface over registered views
        Tables.registerAll(s, d)
        s.sql("""SELECT l_returnflag, l_linestatus,
                | CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS DOUBLE) AS sum_qty,
                | COUNT(*) AS n
                |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_qty,
             | count(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Entry("group_tribe_stats_cold",
      (s, d) => { // the reference's OTHER stats-query shape: cold start
        // recomputes counts inline instead of reusing tribe_active
        // (post_update.py:44-49 vs 50-55) — both shapes declared + oracled
        val n = Tables.load(s, d, "nation")
        val c = cust(s, d)
        val o = Tables.load(s, d, "orders")
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
        TribeAgg.tribeStats(n, c, o, activeDelta(s, d), "n_nationkey", "c_nationkey",
            "c_custkey", "o_custkey", Seq("o_totalprice"), precomputed = None)
          .select(col("n_nationkey"), col("members"), col("active"),
            round(col("o_totalprice"), 6).as("o_totalprice"))
          .orderBy("n_nationkey")
      },
      Some(s"""${Oracles.deltaCte},
              |counts AS (
              |  SELECT n.n_nationkey, count(c.c_custkey) AS members, count(d.o_custkey) AS active,
              |    pow(count(c.c_custkey), 0.5) AS members_sqrt
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  LEFT JOIN delta d ON c.c_custkey = d.o_custkey
              |  GROUP BY n.n_nationkey),
              |sums AS (
              |  SELECT n.n_nationkey, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  JOIN orders o ON o.o_custkey = c.c_custkey
              |  GROUP BY n.n_nationkey)
              |SELECT ct.n_nationkey, ct.members, ct.active, round(s.s / ct.members_sqrt, 6) AS o_totalprice
              |FROM counts ct JOIN sums s ON s.n_nationkey = ct.n_nationkey
              |ORDER BY ct.n_nationkey""".stripMargin)),

    Entry("group_tribe_stats_salted",
      (s, d) => { // the same cold stats shape routed through the
        // skew-mitigation path: Skew.autoSaltJoin samples the fact-key
        // histogram and hot-key-salts the member⋈fact join when a key
        // exceeds 8× the mean frequency — results identical to the plain
        // join by construction, which the shared oracle proves
        val n = Tables.load(s, d, "nation")
        val c = cust(s, d)
        val o = Tables.load(s, d, "orders")
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
        TribeAgg.tribeStats(n, c, o, activeDelta(s, d), "n_nationkey", "c_nationkey",
            "c_custkey", "o_custkey", Seq("o_totalprice"), precomputed = None,
            factSkewSalts = 8)
          .select(col("n_nationkey"), col("members"), col("active"),
            round(col("o_totalprice"), 6).as("o_totalprice"))
          .orderBy("n_nationkey")
      },
      Some(s"""${Oracles.deltaCte},
              |counts AS (
              |  SELECT n.n_nationkey, count(c.c_custkey) AS members, count(d.o_custkey) AS active,
              |    pow(count(c.c_custkey), 0.5) AS members_sqrt
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  LEFT JOIN delta d ON c.c_custkey = d.o_custkey
              |  GROUP BY n.n_nationkey),
              |sums AS (
              |  SELECT n.n_nationkey, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  JOIN orders o ON o.o_custkey = c.c_custkey
              |  GROUP BY n.n_nationkey)
              |SELECT ct.n_nationkey, ct.members, ct.active, round(s.s / ct.members_sqrt, 6) AS o_totalprice
              |FROM counts ct JOIN sums s ON s.n_nationkey = ct.n_nationkey
              |ORDER BY ct.n_nationkey""".stripMargin)),

    Entry("group_tribe_stats_incremental",
      (s, d) => { // the post_update lifecycle re-run, oracle-proven: a
        // first Runner.postUpdateIncremental over a reduced membership
        // (custkey % 50 == 0 absent) with no delta, then a second over the
        // full membership with this run's delta — the second run's
        // tribe_stats must equal the cold recompute, the shared oracle
        val n = Tables.load(s, d, "nation")
        val c = cust(s, d)
        val o = Tables.load(s, d, "orders")
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
        val dir = scratchDir("group_tribe_stats_incremental", d)
        val oldMembers = c.filter(col("c_custkey") % 50 =!= 0)
        val delta = activeDelta(s, d)
        def postUpdate(members: DataFrame, active: DataFrame): Unit =
          Runner.postUpdateIncremental(s, dir, n, oldMembers, members, o,
            active, active, "n_nationkey", "c_nationkey", "c_custkey",
            "o_custkey", Seq("o_totalprice"))
        postUpdate(oldMembers, delta.limit(0))
        postUpdate(c, delta)
        s.read.parquet(s"$dir/tribe_stats")
          .select(col("n_nationkey"), col("members"), col("active"),
            round(col("o_totalprice"), 6).as("o_totalprice"))
          .orderBy("n_nationkey")
      },
      Some(s"""${Oracles.deltaCte},
              |counts AS (
              |  SELECT n.n_nationkey, count(c.c_custkey) AS members, count(d.o_custkey) AS active,
              |    pow(count(c.c_custkey), 0.5) AS members_sqrt
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  LEFT JOIN delta d ON c.c_custkey = d.o_custkey
              |  GROUP BY n.n_nationkey),
              |sums AS (
              |  SELECT n.n_nationkey, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
              |  FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
              |  JOIN orders o ON o.o_custkey = c.c_custkey
              |  GROUP BY n.n_nationkey)
              |SELECT ct.n_nationkey, ct.members, ct.active, round(s.s / ct.members_sqrt, 6) AS o_totalprice
              |FROM counts ct JOIN sums s ON s.n_nationkey = ct.n_nationkey
              |ORDER BY ct.n_nationkey""".stripMargin)),

    Entry("join_asof",
      (s, d) => { // as-of join: each event matched to the user's latest
        // order at or before the event time (operator absent from both
        // the reference and Spark SQL; composed per AsOfJoin)
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.loadEvents(s, d).select(col("event_id"), col("user_id"), col("ts"))
        // dedup right side to one order per (custkey, orderdate): max
        // orderkey — keeps the as-of match deterministic on both engines
        val wDedup = Window.partitionBy("o_custkey", "o_orderdate")
          .orderBy(col("o_orderkey").desc)
        val ord = Tables.load(s, d, "orders")
          .withColumn("__rn", row_number().over(wDedup))
          .filter(col("__rn") === 1)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
        AsOfJoin.asofLE(ev, ord, leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ts", rightTime = "o_orderdate",
            rightCols = Seq("o_orderkey", "o_totalprice"))
          .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("event_id")
      },
      Some("""WITH ded AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
             |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
             |      ORDER BY o_orderkey DESC) AS rn FROM orders) WHERE rn = 1)
             |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
             |FROM events e ASOF LEFT JOIN ded o
             |  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
             |ORDER BY e.event_id""".stripMargin)),

    // ----- §2.8/7.5 streaming (batch form of the same window operator)
    Entry("stream_tumbling_counts",
      (s, d) => CdcStream.tumblingCountsBatch(Tables.loadEvents(s, d))
        .orderBy("hour_start", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
             | count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Entry("stream_sliding_counts",
      (s, d) => CdcStream.slidingCountsBatch(Tables.loadEvents(s, d))
        .orderBy("win_start", "event_type"),
      Some("""WITH ev AS (SELECT unnest([date_trunc('hour', ts),
             |  date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
             |  event_type, value FROM events)
             |SELECT win_start, event_type, count(*) AS n,
             | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_value
             |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Entry("sessionize_users",
      (s, d) => CdcStream.sessionizeBatch(Tables.loadEvents(s, d))
        .orderBy("user_id", "session_start"),
      Some("""WITH o AS (SELECT user_id, ts, value,
             |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 10 MINUTE
             |       THEN 0 ELSE 1 END AS new_s FROM events),
             |s AS (SELECT user_id, ts, value,
             |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o)
             |SELECT min(ts) AS session_start, user_id, count(*) AS n,
             | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_value
             |FROM s GROUP BY user_id, sid ORDER BY 2, 1""".stripMargin)),

    Entry("events_funnel",
      // ordered-sequence funnel (view → click → purchase) per user: each
      // stage's earliest qualifying timestamp must follow the previous
      // stage's. Stage scans are pushdown-filtered by event_type (only
      // that type's rows leave the parquet scan), per-user mins shuffle
      // on user_id once per stage, and the final assembly is two left
      // joins on the (user-cardinality) stage tables — linear at any
      // event volume, no window over the full stream. Output timestamps
      // cast to timestamp_ntz for DuckDB's naive-timestamp parity (the
      // tumbling-counts discipline).
      (s, d) => {
        val ev = Tables.loadEvents(s, d)
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t_view"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts") > col("t_view"))
          .groupBy("user_id").agg(min("ts").as("t_click"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts") > col("t_click"))
          .groupBy("user_id").agg(min("ts").as("t_purchase"))
        v.join(c, Seq("user_id"), "left_outer")
          .join(p, Seq("user_id"), "left_outer")
          .select(col("user_id"),
            col("t_view").cast("timestamp_ntz").as("t_view"),
            col("t_click").cast("timestamp_ntz").as("t_click"),
            col("t_purchase").cast("timestamp_ntz").as("t_purchase"),
            (lit(1) + col("t_click").isNotNull.cast("int")
              + col("t_purchase").isNotNull.cast("int")).as("stage"))
          .orderBy("user_id")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS tv FROM events
             |           WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
             |      JOIN v ON v.user_id = e.user_id AND e.ts > v.tv
             |      WHERE e.event_type = 'click' GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
             |      JOIN c ON c.user_id = e.user_id AND e.ts > c.tc
             |      WHERE e.event_type = 'purchase' GROUP BY 1)
             |SELECT v.user_id, v.tv AS t_view, c.tc AS t_click, p.tp AS t_purchase,
             |       1 + CAST(c.tc IS NOT NULL AS INTEGER)
             |         + CAST(p.tp IS NOT NULL AS INTEGER) AS stage
             |FROM v LEFT JOIN c ON c.user_id = v.user_id
             |       LEFT JOIN p ON p.user_id = v.user_id
             |ORDER BY v.user_id""".stripMargin)),

    Entry("events_funnel_n",
      // the funnel with stages as DATA (real funnels are configured, not
      // hardcoded): the same per-stage min-after-previous chain as
      // events_funnel, folded over an arbitrary stage list — here the
      // 4-stage signup → view → click → purchase. Each stage is still a
      // pushdown-filtered scan + one user-cardinality shuffle, and the
      // oracle SQL is GENERATED from the same list, so both sides change
      // in one place. Same linear-at-any-volume shape as the 3-stage
      // form: per-user mins, never a window over the event stream.
      (s, d) => {
        val stages = Seq("signup", "view", "click", "purchase")
        val ev = Tables.loadEvents(s, d)
        // fold: (colName, per-user earliest ts strictly after the
        // previous stage), built in stage order
        val stageTables = stages.foldLeft(List.empty[(String, DataFrame)]) {
          case (acc, st) =>
            val scan = ev.filter(col("event_type") === st)
            val anchored = acc.headOption match {
              case None => scan
              case Some((prevCol, prev)) =>
                scan.join(prev.select("user_id", prevCol), "user_id")
                  .filter(col("ts") > col(prevCol))
            }
            (s"t_$st",
              anchored.groupBy("user_id").agg(min("ts").as(s"t_$st"))) :: acc
        }.reverse
        val joined = stageTables.tail.foldLeft(stageTables.head._2) {
          case (accDf, (_, df)) => accDf.join(df, Seq("user_id"), "left_outer")
        }
        val stageExpr = stageTables.tail.map(_._1)
          .foldLeft(lit(1))((e, c) => e + col(c).isNotNull.cast("int"))
        joined.select(
            col("user_id") +:
              stageTables.map { case (c, _) => col(c).cast("timestamp_ntz").as(c) } :+
              stageExpr.as("stage"): _*)
          .orderBy("user_id")
      },
      Some(Oracles.funnelOracle(Seq("signup", "view", "click", "purchase")))),

    Entry("events_retention",
      // cohort retention matrix: users bucket into their first-activity
      // day; each (cohort_day, day_offset) cell counts distinct users
      // active that many days later. Two aggregates (first-seen per
      // user, distinct active days per user) and one join — the whole
      // matrix is cohort-days × horizon, tiny at any event volume.
      (s, d) => {
        val ev = Tables.loadEvents(s, d)
        val cohort = ev.groupBy("user_id")
          .agg(to_date(min("ts")).as("cohort_day"))
        val active = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        active.join(cohort, "user_id")
          .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
          .agg(countDistinct("user_id").as("n_users"))
          .withColumn("day_offset", col("day_offset").cast("long"))
          .orderBy("cohort_day", "day_offset")
      },
      Some("""WITH cohort AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
             |                FROM events GROUP BY 1),
             |active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
             |SELECT c.cohort_day,
             |       CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
             |       count(DISTINCT a.user_id) AS n_users
             |FROM active a JOIN cohort c ON c.user_id = a.user_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Entry("range_join_counts",
      (s, d) => { // pure range (point-in-interval) join, NO equi key:
        // each signup event opens a 30-minute window; count ALL events
        // inside it. Binned equi-join rewrite (core.RangeJoin) — Spark
        // would otherwise plan the inequality join as a nested loop
        val ev = Tables.loadEvents(s, d)
        val iv = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("iv_id"), col("ts").as("iv_s"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("iv_e"))
        RangeJoin.pointInIntervalCounts(ev, iv, "ts", "iv_id", "iv_s", "iv_e",
            binSeconds = 1800)
          .orderBy("iv_id")
      },
      Some("""WITH iv AS (SELECT event_id AS iv_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
             |            FROM events WHERE event_type = 'signup')
             |SELECT iv.iv_id, CAST(count(p.ts) AS BIGINT) AS n
             |FROM iv LEFT JOIN events p ON p.ts >= iv.s AND p.ts < iv.e
             |GROUP BY iv.iv_id ORDER BY iv.iv_id""".stripMargin)),

    Entry("cdc_bucketed_apply",
      // the delta-bounded continuous-apply path as a DECLARED, tracked
      // surface: run two micro-batches (full base, then a small delta)
      // through the real StreamingCdc.continuousApplyBucketed state
      // machine on a temp snapshot, then report per-version storage
      // metrics from the committed layout — rewritten vs hard-linked
      // bucket counts are the write-amplification evidence that a batch's
      // cost is ∝ delta, tracked round-over-round in BENCH instead of
      // only inside ContinuousApplyBucketedSpec.
      (s, d) => {
        import graft.stream.StreamingCdc
        val nBuckets = 32
        // cap the base batch (~orders/4): the metrics this query tracks
        // (rewritten vs linked buckets) are layout properties, and the
        // streaming-query startup already dominates its wall clock
        val o = Tables.load(s, d, "orders")
          .filter(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        // all metrics are computed EAGERLY below, so the state dirs can
        // be deleted before returning — no per-invocation /tmp residue
        val root = java.nio.file.Paths.get(scratchDir("cdc_bucketed_apply", d))
        val rows =
          try {
            val in = s"$root/in"; val ck = s"$root/ck"; val snap = s"$root/sn"
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
            // both batch files up front with strictly ordered mtimes, then
            // ONE stream run with maxFilesPerTrigger=1 drains them as two
            // micro-batches (two versioned commits) — one query startup
            // instead of two, same state machine and layout metrics
            val delta = o.filter(col("o_orderkey") % 101 === 0)
              .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            writeSingleFile(o, in, "b1.parquet")
            writeSingleFile(delta, in, "b2.parquet")
            val b1 = java.nio.file.Paths.get(in, "b1.parquet")
            java.nio.file.Files.setLastModifiedTime(b1,
              java.nio.file.attribute.FileTime.fromMillis(
                java.nio.file.Files.getLastModifiedTime(b1).toMillis - 60000))
            StreamingCdc.continuousApplyBucketed(s, in, ck, snap, "o_orderkey",
              Seq("o_totalprice", "o_orderstatus"), nBuckets,
              maxFilesPerTrigger = Some(1))
            Seq(1L, 2L).map { v =>
              val nRows = BucketedSnapshot.read(s, snap, "snapshot", v).count()
              val (rewritten, linked) = bucketShareStats(snap, v)
              (v, nRows, rewritten, linked)
            }
          } finally graft.core.Pipeline.deleteRecursively(root)
        import s.implicits._
        rows.toDF("version", "n_rows", "buckets_rewritten", "buckets_linked")
          .orderBy("version")
      },
      None), // side-effecting state machine — filesystem metrics, rows-only

    Entry("cdc_bucketed_replay",
      // ORACLE TWIN of cdc_bucketed_apply (VERDICT r12 next-round #7,
      // via the diff_apply_scaled id-rule replay method): the same
      // continuousApplyBucketed state machine — two micro-batches, two
      // versioned bucket-linked commits — but the declared OUTPUT is the
      // committed CONTENT of both versions, not storage metrics, and
      // which rows each version must hold is pure id arithmetic over the
      // shared orders parquet (base = o_orderkey % 4 = 0; the delta bumps
      // o_totalprice by 1.0 where o_orderkey % 101 = 0), so DuckDB
      // replays both snapshots exactly. A wrong bucket route, a commit
      // that rewrites (or fails to link) the wrong buckets, or an apply
      // that loses/duplicates a key all change the read-back rows and
      // fail the hash. Storage-amplification metrics stay with the
      // production twin; ContinuousApplyBucketedSpec pins the file
      // counts.
      (s, d) => {
        import graft.stream.StreamingCdc
        val o = Tables.load(s, d, "orders")
          .filter(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val root = scratchDir("cdc_bucketed_replay", d)
        val in = s"$root/in"; val ck = s"$root/ck"; val snap = s"$root/sn"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val delta = o.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        writeSingleFile(o, in, "b1.parquet")
        writeSingleFile(delta, in, "b2.parquet")
        val b1 = java.nio.file.Paths.get(in, "b1.parquet")
        java.nio.file.Files.setLastModifiedTime(b1,
          java.nio.file.attribute.FileTime.fromMillis(
            java.nio.file.Files.getLastModifiedTime(b1).toMillis - 60000))
        StreamingCdc.continuousApplyBucketed(s, in, ck, snap, "o_orderkey",
          Seq("o_totalprice", "o_orderstatus"), nBuckets = 32,
          maxFilesPerTrigger = Some(1))
        // read BOTH committed versions back through the bucketed layout
        // (v2 resolves most buckets via hard links to v1 — the read path
        // under test); state stays on disk for the lazy read, scratchDir
        // GC reclaims it (the snapshot_asof discipline)
        Seq(1L, 2L).map { v =>
            BucketedSnapshot.read(s, snap, "snapshot", v)
              .select(lit(v).as("version"), col("o_orderkey"),
                col("o_totalprice"), col("o_orderstatus"))
          }.reduce(_.unionByName(_))
          .orderBy("version", "o_orderkey")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
             |  WHERE o_orderkey % 4 = 0)
             |SELECT CAST(1 AS BIGINT) AS version, o_orderkey, o_totalprice,
             |       o_orderstatus
             |FROM base
             |UNION ALL
             |SELECT CAST(2 AS BIGINT) AS version, o_orderkey,
             |       CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
             |            ELSE o_totalprice END AS o_totalprice,
             |       o_orderstatus
             |FROM base
             |ORDER BY version, o_orderkey""".stripMargin)),

    Entry("snapshot_asof",
      // TIME TRAVEL over the versioned commit protocol, ORACLED by
      // version parity: commit v1 = the internal fixture ingested cold
      // (everything classifies new), commit v2 = the warm diff-applied
      // snapshot, then read back AS OF v1 through the v=N directory +
      // VERSION-pointer layout. The returned rows must equal the
      // internal fixture replayed independently by DuckDB — proving the
      // read path returns the PAST committed state, not the latest.
      (s, d) => {
        val root = scratchDir("snapshot_asof", d)
        val i = Fixture.internal(s, d)
        val e = Fixture.external(s, d)
        val dataCols = Fixture.dataCols(e)
        // v1: cold ingest of the internal fixture via the same warm
        // algebra (empty replica -> all rows classify new)
        val r1 = Pipeline.warm(i.limit(0), i, K, dataCols)
        Pipeline.commitVersionedAt(r1, root, 1L)
        r1.release()
        // v2: the warm incremental run lands the external state
        val r2 = Pipeline.warm(i, e, K, dataCols)
        Pipeline.commitVersionedAt(r2, root, 2L)
        r2.release()
        // read AS OF v1 while the pointer names v2
        require(Pipeline.currentVersion(root).contains(2L))
        Pipeline.readVersion(s, root, "snapshot", 1L)
          .select(i.columns.map(col): _*)
          .orderBy(keyCols: _*)
      },
      Some(s"""${Fixture.OracleCtes}
              |SELECT * FROM internal ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Entry("changelog_latest_compacted",
      // `changelog_latest` READ OVER THE COMPACTED LOG: three versioned
      // commits build a real on-disk changelog (v2 logs the internal old
      // rows of every changed key, v3 logs the external ones), then
      // Pipeline.compactChangelog rewrites the history to one
      // latest-per-key partition — and the SAME latest-per-key oracle
      // must still hold, proving compaction preserves query semantics
      // end-to-end (including `v_row` version attribution), not just in
      // ChangelogCompactionSpec's unit frame. A require pins that
      // compaction actually collapsed the directory layout, so the gate
      // cannot silently pass against the uncompacted log.
      (s, d) => {
        val root = scratchDir("changelog_latest_compacted", d)
        val i = Fixture.internal(s, d)
        val e = Fixture.external(s, d)
        val dataCols = Fixture.dataCols(e)
        val r1 = Pipeline.warm(i.limit(0), i, K, dataCols)
        Pipeline.commitVersionedAt(r1, root, 1L); r1.release()
        val r2 = Pipeline.warm(i, e, K, dataCols)
        Pipeline.commitVersionedAt(r2, root, 2L); r2.release()
        val r3 = Pipeline.warm(e, i, K, dataCols)
        Pipeline.commitVersionedAt(r3, root, 3L); r3.release()
        Pipeline.compactChangelog(s, root, K)
        val vDirs = Option(new java.io.File(s"$root/changelog").listFiles())
          .map(_.count(_.getName.startsWith("v="))).getOrElse(0)
        require(vDirs == 1, s"compaction left $vDirs changelog version dirs")
        Changelog.latest(Pipeline.readChangelog(s, root), K, "v")
          .select(keyCols :+ col("l_quantity") :+
            col("v").cast("long").as("version"): _*)
          .orderBy(keyCols: _*)
      },
      // the changed keys' OLD rows at the latest logging version: v3
      // captured the external values when the replica was diffed back to
      // internal — so latest-per-key over the compacted log must be the
      // external fixture's changed rows attributed to version 3
      Some(s"""${Fixture.OracleCtes},
              |${Oracles.kindsCte}
              |SELECT e.l_orderkey, e.l_linenumber, e.l_quantity,
              |  CAST(3 AS BIGINT) AS version
              |FROM external e JOIN kinds k ON e.l_orderkey = k.l_orderkey
              |  AND e.l_linenumber = k.l_linenumber AND k.kind = 'changed'
              |ORDER BY e.l_orderkey, e.l_linenumber""".stripMargin)),

    Entry("json_props_agg",
      (s, d) => Tables.loadEvents(s, d)
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             | CAST(sum(CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS k_sum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- §7.5 dedup
    Entry("dedup_exact",
      (s, d) => Dedup.exactFlags(docs(s, d), "doc_id", "text").orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS text_sig,
             | CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_dup
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("dedup_minhash_lsh",
      // sort-first (r15): the MinHashSig kernel is a per-row projection,
      // so the sort hoists below it (see text_bpe_apply)
      (s, d) => Dedup.minhashSignatures(docs(s, d).orderBy("doc_id"), "doc_id",
        "text", shingleN = 3, k = 8, bands = 2),
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM dd),
             |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM x),
             |m AS (SELECT doc_id,
             |  min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1,
             |  min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3,
             |  min(md5('4|' || s)) AS mh4, min(md5('5|' || s)) AS mh5,
             |  min(md5('6|' || s)) AS mh6, min(md5('7|' || s)) AS mh7
             | FROM sh GROUP BY doc_id)
             |SELECT doc_id, md5(mh0||'|'||mh1||'|'||mh2||'|'||mh3) AS band_0,
             |       md5(mh4||'|'||mh5||'|'||mh6||'|'||mh7) AS band_1
             |FROM m ORDER BY doc_id""".stripMargin)),

    Entry("dedup_incremental_lsh",
      // ingest-time dedup: sketch ONLY the delta (doc_id % 5 == 0),
      // probe the corpus's pre-built LSH bucket index, Jaccard-verify
      // candidates. Corpus is never re-sketched — per-ingest cost ∝ delta.
      // The oracle derives the same pairs the opposite way (full-corpus
      // recompute restricted to delta-touching pairs).
      (s, d) => {
        val all = docs(s, d)
        val corpus = all.filter(col("doc_id") % 5 =!= 0)
        val delta = all.filter(col("doc_id") % 5 === 0)
        val idx = Dedup.lshIndex(corpus, "doc_id", "text")
        Dedup.incrementalVerifiedPairs(idx, corpus, delta, "doc_id", "text",
            threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(Oracles.incrementalLshOracle)),

    Entry("dedup_ingest_gate",
      // the STREAMING ingest gate's batch contract, oracled: run the real
      // StreamNearDup state machine — seed corpus (wave 0) indexed, two
      // ingest batches (waves 1, 2) probed against the accumulating
      // index — and read back every pair it detected, versioned by the
      // batch that detected it. Exercises seedCorpus + processBatch +
      // the replay-safe partitioned state layout end-to-end.
      (s, d) => {
        val all = docs(s, d)
        // reused (wiped per invocation) — the returned frame reads the
        // state lazily, so it must outlive this function
        val st = scratchDir("dedup_ingest_gate", d)
        val p = graft.stream.StreamNearDup.Params()
        graft.stream.StreamNearDup.seedCorpus(all.filter(col("doc_id") % 3 === 0), st, p)
        graft.stream.StreamNearDup.processBatch(all.filter(col("doc_id") % 3 === 1), st, 1L, p)
        graft.stream.StreamNearDup.processBatch(all.filter(col("doc_id") % 3 === 2), st, 2L, p)
        graft.stream.StreamNearDup.pairs(s, st)
          .select(col("id_a"), col("id_b"), col("jaccard"), col("ingest_version"))
          .orderBy("id_a", "id_b")
      },
      Some(Oracles.ingestGateOracle)),

    Entry("dedup_substring_gate",
      // the streaming SUBSTRING gate's batch contract, oracled: run the
      // real StreamSubstringGate state machine — wave 0 seeds the
      // winnowed-fingerprint index, waves 1 and 2 probe the accumulating
      // index (delta-broadcast, pb-pruned) and absorb — and read back
      // every verbatim-overlap pair, versioned by the batch that
      // detected it. md5 mode so DuckDB replays the whole machine as one
      // winnowed-gram self-join with version = greatest(wave) — the pair
      // is detected by whichever batch first sees both sides.
      // SCALE CAVEAT: md5 mode is ORACLE GEAR, not the scale path — its
      // 32-byte hex gram keys are super-linear CPU at 4× data (taskCpu
      // 8.07×, GC flat: string-keyed hash tables go DRAM-random where
      // production's 8-byte longs stay cache-resident; PERFORMANCE.md
      // r9 gate section). The production path is declared separately as
      // `dedup_substring_gate_xx` below so its wall is benched per
      // round, and its 4× scaling is probe-gated (ScaleProbe family).
      (s, d) => {
        val all = docs(s, d)
        val st = scratchDir("dedup_substring_gate", d)
        val p = graft.stream.StreamSubstringGate.Params(md5Mode = true)
        graft.stream.StreamSubstringGate.seedCorpus(
          all.filter(col("doc_id") % 3 === 0), st, p)
        graft.stream.StreamSubstringGate.processBatch(
          all.filter(col("doc_id") % 3 === 1), st, 1L, p)
        graft.stream.StreamSubstringGate.processBatch(
          all.filter(col("doc_id") % 3 === 2), st, 2L, p)
        graft.stream.StreamSubstringGate.pairs(s, st)
          .select(col("id_a"), col("id_b"), col("n_shared"), col("ingest_version"))
          .orderBy("id_a", "id_b")
      },
      Some(Oracles.substringGateOracle(l = 40, w = 8, minShared = 2))),

    Entry("dedup_substring_gate_xx",
      // the substring gate in PRODUCTION mode — xxhash64 winnow kernel
      // carrying 8-byte long fingerprints where the md5 oracle gear
      // above carries 32-byte hex strings. Declared rows-only so the
      // production gate's WALL is pinned in every round's bench record
      // (r9 verdict weak #1: only the md5 twin was benched, and its
      // scale posture is root-caused super-linear CPU — string-keyed
      // gram hash tables go DRAM-random at 4× key cardinality,
      // PERFORMANCE.md "md5 oracle gear is not the scale path" — so its
      // wall said nothing about the deployed path). Correctness stays
      // with the md5 twin's DuckDB replay; the state machinery (pb-
      // pruned probes, probe-time hub caps, versioned Overwrite layout)
      // is mode-independent, and this mode's 4× scaling is gated by the
      // dedup_substring_gate_xx ScaleProbe family (2.85/5.0 in r9).
      (s, d) => {
        val all = docs(s, d)
        val st = scratchDir("dedup_substring_gate_xx", d)
        val p = graft.stream.StreamSubstringGate.Params(md5Mode = false)
        graft.stream.StreamSubstringGate.seedCorpus(
          all.filter(col("doc_id") % 3 === 0), st, p)
        graft.stream.StreamSubstringGate.processBatch(
          all.filter(col("doc_id") % 3 === 1), st, 1L, p)
        graft.stream.StreamSubstringGate.processBatch(
          all.filter(col("doc_id") % 3 === 2), st, 2L, p)
        graft.stream.StreamSubstringGate.pairs(s, st)
          .select(col("id_a"), col("id_b"), col("n_shared"), col("ingest_version"))
          .orderBy("id_a", "id_b")
      },
      None), // xxhash64 fingerprints — not expressible in DuckDB; the
             // md5-mode twin above is the correctness gate

    Entry("dedup_simhash",
      // sortedOut (r15): the signature join (incl. the interpreted
      // rolling-hash HOF) ran twice under the range-bound sampling
      (s, d) => sortedOut(Dedup.simhashTable(docs(s, d), "doc_id", "text")
        .join(docs(s, d).select(col("doc_id"),
          TextStats.rollingHash(col("text")).as("rolling_fp")), Seq("doc_id")),
        "doc_id"),
      None), // xxhash64-based — not expressible in DuckDB

    Entry("dedup_ngram_jaccard",
      (s, d) => {
        val a = docs(s, d).select(col("doc_id").as("id_a"), col("text").as("ta"))
        val b = docs(s, d).select(col("doc_id").as("id_b"), col("text").as("tb"))
        // sortedOut (r15): the consecutive-pair join + interpreted
        // jaccard HOF ran twice under the range-bound sampling
        sortedOut(a.join(b, col("id_b") === col("id_a") + 1)
          .select(col("id_a"), col("id_b"),
            Dedup.wordJaccard(col("ta"), col("tb")).as("jaccard")), "id_a")
      },
      // LEFT JOIN from the full consecutive-pair base: pairs sharing no
      // word must still appear with jaccard = 0 (as the Spark query emits)
      Some("""WITH w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents),
             |c AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
             |p AS (SELECT d1.doc_id AS id_a, d2.doc_id AS id_b FROM documents d1
             |      JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
             |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |      FROM w a JOIN w b ON a.word = b.word AND b.doc_id = a.doc_id + 1 GROUP BY 1, 2)
             |SELECT p.id_a, p.id_b,
             | round(CAST(coalesce(i.inter, 0) AS DOUBLE) / (c1.n + c2.n - coalesce(i.inter, 0)), 6) AS jaccard
             |FROM p LEFT JOIN i ON i.id_a = p.id_a
             |JOIN c c1 ON c1.doc_id = p.id_a JOIN c c2 ON c2.doc_id = p.id_b
             |ORDER BY p.id_a""".stripMargin)),

    Entry("dedup_clusters",
      // the PRODUCTION dedup path end-to-end: minhashSignatures →
      // lshCandidatePairs → Jaccard verify → dupClusters (never all-pairs)
      (s, d) => lshClusters(s, d).orderBy("id"),
      // oracle recomputes the same LSH pipeline independently, with
      // connected components via recursive-CTE BFS reachability (a
      // different CC algorithm from the Spark side's dupClusters)
      Some(s"""WITH RECURSIVE ${Oracles.lshClusterCtesBody}
              |SELECT id, cluster_id FROM clusters ORDER BY 1""".stripMargin)),

    Entry("dedup_keep_best",
      // resolve each LSH dup cluster to its best-quality doc — the custom
      // TopKPerGroup operator does the per-cluster argmax (memoized,
      // shared with dedup_export)
      (s, d) => keepBest(s, d).orderBy("cluster_id"),
      Some(Oracles.keepBestOracle)),

    Entry("dedup_export",
      (s, d) => { // the dedup pipeline's FINAL artifact: the cleaned
        // corpus — every doc surviving keep-best-per-cluster, full
        // payload, via a left-semi join against the (memoized, shared)
        // kept-id set
        docs(s, d).join(keepBest(s, d).select(col("kept_id")),
            col("doc_id") === col("kept_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some(Oracles.dedupExportOracle)),

    Entry("pack_sequences",
      // GPT-style training-sequence packing: docs concatenated in id
      // order, chopped every 2048 tokens — per-doc token interval + the
      // sequence range it spans. The Spark side runs a DISTRIBUTED
      // two-phase prefix scan (range partition → per-partition totals →
      // cumulated offsets broadcast back → per-partition parallel
      // window); the naive global ORDER BY window would serialize the
      // corpus through one task. The oracle replays it with DuckDB's
      // single-node cumsum — same arithmetic, opposite execution.
      (s, d) => Packing.packSequences(
          docs(s, d).select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n")),
          "doc_id", "n", seqLen = 2048)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |          FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |      CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tok_end FROM t)
             |SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
             |  CAST(floor((tok_end - n_tokens) / 2048) AS BIGINT) AS seq_first,
             |  greatest(CAST(floor((tok_end - n_tokens) / 2048) AS BIGINT),
             |           CAST(floor((tok_end - 1) / 2048) AS BIGINT)) AS seq_last
             |FROM c ORDER BY doc_id""".stripMargin)),

    Entry("pack_bins",
      // no-split bin packing (instruction-tuning shape): first-fit-
      // decreasing per range partition, bin ids globally unique via
      // pid-prefixing. Inherently order-dependent heuristic — not
      // SQL-expressible; PackingSpec pins the invariants (exactly-one
      // bin per doc, budget never exceeded, near-optimal bin count).
      (s, d) => Packing.packBinsFFD(
          docs(s, d).select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n")),
          "doc_id", "n", budget = 2048L)
        .orderBy("id"),
      None),

    Entry("pack_bins_nextfit",
      // the ORACLED no-split packer (new r9): range-sharded next-fit-
      // decreasing — shard = doc_id/100 (fixed id ranges, no sampler),
      // next-fit within the shard in (n desc, id) order. Unlike FFD,
      // every assignment derives from the data alone, so DuckDB replays
      // the identical greedy fold as a recursive CTE that advances all
      // shards one doc per iteration. Docs with doc_id % 83 == 7 get
      // their token count ×30 (planted IDENTICALLY by both engines):
      // the raw fixture maxes at ~99 tokens, so without the plant the
      // oversize branch (n > budget ⇒ forced singleton bin) would be
      // dead code in the gate. budget=512 puts planted docs on both
      // sides of the oversize line (30n ∈ [300, 2970]).
      (s, d) => {
        val n = size(split(col("text"), " ")).cast("long")
        Packing.packBinsNextFit(
            docs(s, d).select(col("doc_id"),
              when(col("doc_id") % 83 === 7, n * 30).otherwise(n).as("n")),
            "doc_id", "n", budget = 512L, span = 100L)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id AS id,
             |        CAST(CASE WHEN doc_id % 83 = 7
             |                  THEN len(string_split(text, ' ')) * 30
             |                  ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens,
             |        doc_id // 100 AS shard FROM documents),
             |ord AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard
             |          ORDER BY n_tokens DESC, id) AS BIGINT) AS seq FROM d),
             |packed AS (
             |  SELECT shard, seq, id, n_tokens, CAST(0 AS BIGINT) AS bin,
             |         greatest(512 - n_tokens, 0) AS free, n_tokens > 512 AS oversize
             |  FROM ord WHERE seq = 1
             |  UNION ALL
             |  SELECT o.shard, o.seq, o.id, o.n_tokens,
             |         CASE WHEN o.n_tokens <= p.free THEN p.bin ELSE p.bin + 1 END,
             |         CASE WHEN o.n_tokens <= p.free THEN p.free - o.n_tokens
             |              ELSE greatest(512 - o.n_tokens, 0) END,
             |         o.n_tokens > 512
             |  FROM packed p JOIN ord o ON o.shard = p.shard AND o.seq = p.seq + 1)
             |SELECT id, n_tokens, shard * 1048576 + bin AS bin_id, oversize
             |FROM packed ORDER BY id""".stripMargin)),

    Entry("corpus_ingest_e2e",
      // the STREAMING-SHAPED counterpart of corpus_prep_e2e: the ingest
      // gate chain a training-data system runs at the door — LM quality
      // (wave-0-trained, static) → exact dedup (keep-first) → substring
      // overlap (winnowed md5, cross vs admitted + in-batch CC min-id) —
      // folded over ingestion waves with the admitted state
      // accumulating, every doc's fate labeled by its FIRST failing
      // stage. Gate ordering is by cost: an LM-rejected doc never
      // consumes dedup work. The corpus plants verbatim clones
      // (doc_id % 17 == 3, id + 100000 ⇒ the clone lands one wave over)
      // because the raw fixture has no exact duplicates — without them
      // the exact stage would be dead code in the gate; both engines
      // plant identically. maxAvgNllFrac = 1.0 (vs the strict gate's
      // 0.98) deliberately admits the all-unseen boundary so the dedup
      // stages see realistic volume — the strict-rejection contract is
      // pinned by stream_lm_gate. The oracle unrolls the wave
      // recursion — both engines walk the identical state machine (see
      // Oracles.ingestPipelineOracle).
      (s, d) => {
        val base = docs(s, d)
        val planted = base.unionByName(base.filter(col("doc_id") % 17 === 3)
          .withColumn("doc_id", col("doc_id") + 100000L))
        IngestPipeline.waveFates(planted, "doc_id", "text",
            nWaves = 3, maxAvgNllFrac = 1.0, L = 40, w = 8, minShared = 2)
          .orderBy("doc_id")
      },
      Some(Oracles.ingestPipelineOracle(nWaves = 3, frac = 1.0, l = 40,
        w = 8, minShared = 2))),

    Entry("corpus_ingest_e2e_xx",
      // the SAME composed 3-wave gate chain in PRODUCTION (xxhash) mode
      // — declared (r11) so its wall is pinned in every bench, exactly
      // the r10 graduation that moved dedup_substring_gate_xx out of
      // probe-only shadow: the md5 entry above is the oracle gate (its
      // 32-byte hex gram keys are deliberate oracle gear), this is what
      // a deployment runs. Rows-only by the same twin discipline
      // (xxhash64 fingerprints aren't DuckDB-expressible); the wave
      // fates' STRUCTURE is cross-engine gated through the md5 twin,
      // and the 4x family probe (corpus_ingest_e2e_xx in ScaleProbe)
      // rides this same Catalog entry.
      (s, d) => {
        val base = docs(s, d)
        val planted = base.unionByName(base.filter(col("doc_id") % 17 === 3)
          .withColumn("doc_id", col("doc_id") + 100000L))
        IngestPipeline.waveFates(planted, "doc_id", "text",
            nWaves = 3, maxAvgNllFrac = 1.0, L = 40, w = 8, minShared = 2,
            md5Mode = false)
          .orderBy("doc_id")
      },
      None), // xxhash64 gram fingerprints — md5 twin above is the oracle

    Entry("corpus_prep_e2e",
      // THE product shape a training-data user actually runs: the four
      // individually-oracled stages COMPOSED as one pipeline — C4-style
      // clean → quality gate (≥ 0.5, keeps ~80% of the fixture) →
      // near-dup keep-best over the CLEANED text → training-sequence
      // packing of the survivors. Composition is where persist/
      // memoization boundaries go wrong (a stage recomputing its input
      // from a different snapshot, a gate applied before the text the
      // next stage shingles): the one eager checkpoint below is the
      // single materialization boundary, and every downstream stage
      // provably consumes exactly that frame. The oracle replays the
      // whole chain in one DuckDB CTE pipeline with each stage oracle
      // retargeted at its predecessor. Reference analog: the reference's
      // value is also its COMPOSED run (start.py:55-60), not its stages.
      (s, d) => {
        val cleaned = docs(s, d).select(col("doc_id"),
          TextStats.cleanText(col("text")).as("text"))
        // one boundary: clean+score each doc exactly once; the cluster
        // derivation, keep-best join, and packing all reuse these blocks
        // (three consumers — an unpersisted plan would re-run the clean
        // and quality kernels per consumer)
        // checkpoint BEFORE the quality filter (r15): a filter on the
        // derived column is pushed below the Project with the alias
        // substituted (PushPredicateThroughNonJoin), and Filter/Project
        // don't share subexpression elimination — the clean+profile
        // kernels evaluated TWICE per row (the ADVICE r14 FuzzyJoin
        // shape; StageProf read this checkpoint stage at 1334 task-s).
        // Materializing (text, quality) first runs the kernels once;
        // the filter then scans checkpointed blocks. Same rows out.
        val gated = cleaned
          .withColumn("quality", TextStats.qualityScore(col("text")))
          .localCheckpoint(true)
          .filter(col("quality") >= 0.5)
        val clusters = Dedup.lshDedupClusters(gated, "doc_id", "text",
          threshold = 0.5, shingleN = 3, k = 8, bands = 4)
        val kept = graft.plans.TopK.perGroup(
            gated.select(col("doc_id").as("id"), col("quality"))
              .join(clusters, Seq("id")),
            Seq("cluster_id"), Seq(("quality", false), ("id", true)), 1)
          .select(col("id").as("doc_id"))
        val survivors = gated.join(kept, Seq("doc_id"), "left_semi")
        Packing.packSequences(
            survivors.select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n")),
            "doc_id", "n", seqLen = 2048)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(Oracles.corpusPrepOracle)),

    Entry("sample_stratified",
      (s, d) => { // deterministic stratified sampling for corpus mixing:
        // per-language target rates applied via an md5-threshold predicate
        // (reproducible on any engine, no rand) — the data-mixing
        // primitive a training pipeline uses to rebalance sources
        val rates = Map("en" -> 0.50, "es" -> 0.25, "de" -> 0.10)
        val hx = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4)
        val hv = conv(hx, 16, 10).cast("long") // 0..65535
        val thresh = rates.foldLeft(lit(-1L)) { case (acc, (lang, r)) =>
          when(col("lang") === lang, lit((r * 65536).toLong)).otherwise(acc)
        }
        docs(s, d).filter(hv < thresh)
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) <
             |  CASE lang WHEN 'en' THEN 32768 WHEN 'es' THEN 16384
             |            WHEN 'de' THEN 6553 ELSE -1 END
             |ORDER BY doc_id""".stripMargin)),

    Entry("mm_frame_sample",
      // REAL video frame sampling: one synthetic MJPEG-AVI per doc
      // (variant = doc_id % 50 plants perceptual dup groups; the replica
      // watermark rides the container's JUNK chunk so same-variant
      // containers are byte-distinct with bit-identical frames), RIFF
      // demux → per-frame JPEG pixel decode → dims + perceptual aHash
      (s, d) => mmVideoFrames(s, d).orderBy("media_id", "frame_idx"),
      None), // pixel decode — not expressible in DuckDB; the sampling
             // SCHEDULE is oracled by mm_frame_sample_sched below

    Entry("mm_frame_sample_sched",
      // the sampling SCHEDULE of mm_frame_sample, ORACLED (VERDICT r13
      // #4): render a varied-frame-count video corpus (1 + id%7 frames,
      // 5% doc slice — a constant-count corpus exercises one (n, take)
      // cell), demux the REAL RIFF containers to count movi frame
      // chunks, and emit which source frame each of 3 evenly-spaced
      // samples reads. The index arithmetic is Multimodal.sampleIndices
      // — the SAME helper mm_frame_sample's decode path runs, so the
      // oracle pins production, not a copy. DuckDB replays the frame
      // count by construction (1 + doc_id % 7, the mm_video_dedup_check
      // discipline) and the schedule in integer + IEEE-double math;
      // after this only pixel values (and KLL internals) remain
      // un-oracled, both sibling-gated.
      (s, d) => Multimodal.frameSampleSchedule(s,
          Multimodal.renderVideoMediaVaried(s,
            docs(s, d).filter(col("doc_id") % 20 === 0), "doc_id"),
          nFrames = 3).toDF()
        .orderBy("media_id", "frame_idx"),
      Some("""WITH v AS (SELECT doc_id, CAST(1 + doc_id % 7 AS INTEGER) AS n
             |           FROM documents WHERE doc_id % 20 = 0),
             |s AS (SELECT doc_id, n, LEAST(3, n) AS take FROM v),
             |g AS (SELECT doc_id, n, take,
             |      unnest(generate_series(0, take - 1)) AS fi FROM s)
             |SELECT doc_id AS media_id, n AS n_src_frames,
             |  CAST(fi AS INTEGER) AS frame_idx,
             |  CAST(LEAST(CAST(floor(fi * (CAST(n AS DOUBLE) / take)) AS BIGINT),
             |             n - 1) AS INTEGER) AS src_idx
             |FROM g ORDER BY media_id, frame_idx""".stripMargin)),

    Entry("mm_video_dedup_check",
      // the REAL video-decode dedup path, ORACLED like
      // mm_image_dedup_check: per-video signature = the ordered sequence
      // of decoded-frame aHashes; grouping on it must reproduce pure
      // variant arithmetic, so the t2 gate verifies the whole
      // mux → demux → JPEG decode → perceptual hash round-trip
      // group mins via agg+broadcast, not a full-corpus window (the same
      // exchange-free shape as mm_image_neardup)
      (s, d) => {
        val sig = mmVideoFrames(s, d).groupBy("media_id")
          .agg(min(when(col("decode_ok"), 1).otherwise(0)).as("all_ok"),
            md5(to_json(sort_array(collect_list(
              struct(col("frame_idx"), col("ahash")))))).as("vsig"))
        val mins = sig.groupBy("all_ok", "vsig")
          .agg(min("media_id").as("__min_id"))
        sig.join(broadcast(mins), Seq("all_ok", "vsig"))
          .select(col("media_id"),
            when(col("all_ok") === 1 && col("media_id") =!= col("__min_id"), 1)
              .otherwise(0).as("is_dup"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             | CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY doc_id % 50)
             |      THEN 1 ELSE 0 END AS is_dup
             |FROM documents ORDER BY media_id""".stripMargin)),

    Entry("mm_image_features",
      // REAL image decode, end-to-end through the JDK codec: render one
      // deterministic PNG per doc (variant = doc_id % 50 plants
      // perceptual dup groups; per-doc pixel noise keeps bytes distinct),
      // decode it back with ImageIO, emit dims + channel means + the
      // 64-bit perceptual aHash. No CRC stand-ins anywhere on this path.
      (s, d) => mmImageFeats(s, d)
        .select(col("media_id"), col("decode_ok"), col("width"), col("height"),
          round(col("mean_r"), 2).as("mean_r"),
          round(col("mean_g"), 2).as("mean_g"),
          round(col("mean_b"), 2).as("mean_b"), col("ahash"))
        .orderBy("media_id"),
      // ORACLED since r11: renderPattern is closed-form integer
      // arithmetic of (variant, x, y) and PNG is lossless, so DuckDB
      // regenerates every pixel (only the seed's low 24 bits are ever
      // consumed - no 64-bit overflow), the watermark LSBs included,
      // and recomputes the decoded means and the 64-bit aHash exactly
      // (see Oracles.imagePixelCtes) - the audio-oracle discipline
      // applied to the image codec.
      Some(Oracles.mmImageFeaturesOracle)),

    Entry("mm_image_neardup",
      // perceptual image dedup over the decoded aHash: byte-distinct
      // renders of the same variant collapse to one 64-bit key; is_dup
      // vs the group's min id keeps the output LINEAR in corpus size —
      // never pairs. The group mins come from a partial aggregate
      // broadcast back (few distinct hashes ≪ corpus), NOT a window: the
      // window form shuffled and sorted EVERY decoded row into the ~50
      // hash groups — the whole corpus through one exchange with
      // group-count parallelism — where the agg+broadcast join is
      // map-side combined and exchange-free on the big side.
      // decode_ok gates the flag AND the grouping: undecodable payloads
      // all carry ahash=0 and must never flag each other as dups
      (s, d) => {
        val feats = mmImageFeats(s, d)
        val mins = feats.groupBy("decode_ok", "ahash")
          .agg(min("media_id").as("__min_id"))
        feats.join(broadcast(mins), Seq("decode_ok", "ahash"))
          .select(col("media_id"), col("ahash"),
            when(col("decode_ok") && col("media_id") =!= col("__min_id"), 1)
              .otherwise(0).as("is_dup"))
          .orderBy("media_id")
      },
      // ORACLED since r11: the aHash VALUES are recomputed per pixel in
      // DuckDB (mm_image_dedup_check gates only the GROUPING); every
      // payload in this corpus decodes, so the oracle's ungated
      // min-per-ahash matches the decode_ok-gated flag.
      Some(Oracles.mmImageNeardupOracle)),

    Entry("mm_image_dedup_check",
      // the REAL-decode dedup path, ORACLED: is_dup derived from the
      // decoded images' aHash grouping must equal pure variant
      // arithmetic (renderMedia plants variant = doc_id % 50; the spec
      // proves same-variant renders hash identically and distinct
      // variants don't collide) — so the t2 gate verifies the actual
      // codec round-trip recovered the planted perceptual structure.
      // Same agg+broadcast shape as mm_image_neardup (no full-corpus
      // window exchange).
      (s, d) => {
        val feats = mmImageFeats(s, d)
        val mins = feats.groupBy("decode_ok", "ahash")
          .agg(min("media_id").as("__min_id"))
        feats.join(broadcast(mins), Seq("decode_ok", "ahash"))
          .select(col("media_id"),
            when(col("decode_ok") && col("media_id") =!= col("__min_id"), 1)
              .otherwise(0).as("is_dup"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             | CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY doc_id % 50)
             |      THEN 1 ELSE 0 END AS is_dup
             |FROM documents ORDER BY media_id""".stripMargin)),

    Entry("dedup_multimodal",
      // CROSS-MODAL keep-best: a doc is a duplicate if ANY modality says
      // so — text MinHash-LSH clusters (memoized lshClusters) and REAL
      // decoded-image aHash groups (memoized mmImageFeats) compose via
      // star edges → one connected-component pass → best-quality doc per
      // merged component. Star edges keep the union edge list LINEAR in
      // corpus size (a k-member group is k-1 edges, never k² pairs), so
      // the composition adds no quadratic term at 100 TB. ORACLED: DuckDB
      // replays text LSH independently and derives the image signal from
      // pure planted-variant arithmetic, so the gate proves the codec
      // round-trip AND the multi-signal CC merge together.
      (s, d) => multimodalResolution(s, d).orderBy("id"),
      Some(Oracles.multimodalOracle)),

    Entry("mm_audio_features",
      // REAL audio decode through the JDK WAV codec: synthesize a
      // deterministic tone per doc (fundamental keyed by doc_id % 50),
      // decode the WAV back, emit stream format + signal stats (RMS,
      // zero-crossing rate — for a pure tone zcr ≈ 2f/rate, so the
      // decoded signal is verifiable, not a hash of bytes)
      // ORACLED since r11 without a twin: the tone is closed-form from
      // doc_id and encode16→parse16 is byte-faithful, so DuckDB
      // regenerates every PCM sample arithmetically and aggregates the
      // same RMS/zcr the Spark side computed from the DECODED bytes —
      // the planted-variant discipline of mm_image_dedup_check applied
      // to the audio codec (see Oracles.mmAudioFeaturesOracle).
      // sortedOut (r15): render+decode ran twice under the range-bound
      // sampling
      (s, d) => sortedOut(Multimodal.audioFeatures(s,
          Multimodal.renderAudioMedia(s, docs(s, d), "doc_id")).toDF()
        .select(col("media_id"), col("decode_ok"), col("sample_rate"),
          col("channels"), col("n_frames"), round(col("duration_ms"), 2).as("duration_ms"),
          round(col("rms"), 2).as("rms"), round(col("zcr"), 4).as("zcr")),
        "media_id"),
      Some(Oracles.mmAudioFeaturesOracle)),

    Entry("dedup_embedding_cosine",
      // near-dup detection needs near-dups, and the fixture has none (max
      // pairwise cos ≈ 0.49) — so plant a deterministic perturbed SHADOW
      // of every vector (±0.02/dim hash noise on a unit vector ⇒ cos ≈
      // 0.996) and detect at a real threshold. Banded hyperplane LSH
      // (8 bands; planes AUTO-SIZED to ceil(log2 n)+2, floor 18, so
      // candidate volume stays ~n·bands/4 — LINEAR at any corpus size;
      // the r5 scale probe caught fixed planes going quadratic at 1.6M
      // vectors) proposes candidates, and exact cosine ≥ 0.9 verifies.
      // The perturbed input is memoized+persisted (embShadowed) so the
      // interpreted transform runs once, not once per plan branch.
      (s, d) =>
        Dedup.embeddingNearDups(embShadowed(s, d), "vec_id", "embedding",
            threshold = 0.9, planes = 18, bands = 8)
          .orderBy("id_a", "id_b"),
      None), // LSH bucketing uses xxhash64 — not expressible in DuckDB

    Entry("dedup_semantic",
      // SemDeDup-style semantic dedup over the shadow-planted corpus:
      // dedup-sized k-means cells (k = n/256 — LINEAR in n, so the
      // intra-cluster pair volume stays ~128·n; IVF-search's √n sizing
      // would go n^1.5 here), exact cosine ≥ 0.99 within cells only,
      // min-label CC, one kept exemplar per component. Output: the
      // dropped rows (id, cluster_id, kept_id). Complements the LSH
      // near-dup path: no hashing recall curve, just the cluster
      // partition — the trade SemDeDup made famous.
      (s, d) => {
        val sh = embShadowed(s, d)
        val assign = SemDedup.ivfAssignment(s, sh, "vec_id", "embedding")
        // sortedOut (r15): the pair join + CC chain ran twice under the
        // range-bound sampling
        sortedOut(SemDedup.semanticDedup(sh, "vec_id", "embedding", assign,
            tau = 0.99)
          .filter(col("is_dup") === 1)
          .select(col("id"), col("cluster_id"), col("kept_id")), "id")
      },
      None), // k-means cells — not DuckDB-expressible

    Entry("dedup_substring_exact",
      // exact substring-duplication pairs (Lee et al. 2022 shape, via
      // the MOSS fingerprint-index construction instead of a suffix
      // array): every position's 40-char md5 gram indexed, hub grams
      // (df > 1000 — template noise) dropped before the pair join, docs
      // paired by shared distinct fingerprints. No doc×doc comparison;
      // grams hash-partition by fingerprint. DuckDB replays it exactly.
      (s, d) => SubstringDedup.sharedGramPairs(docs(s, d), "doc_id", "text",
          L = 40, minShared = 5)
        .orderBy("id_a", "id_b"),
      Some(Oracles.substringPairsOracle(l = 40, minShared = 5, maxDf = 1000))),

    Entry("dedup_substring_winnowed",
      // the 100 TB path: robust winnowing (window-min fingerprints,
      // ~2/(w+1) of the gram volume) — any shared run ≥ L+w-1 chars
      // still collides on a surviving fingerprint. xxhash64 grams →
      // rows-only; SubstringDedupSpec pins recall against the exact
      // variant on the planted fixture overlaps.
      // sortedOut (r15): the final pair aggregate ran twice under the
      // range-bound sampling — two ~230 task-s executions at 15.7 GB
      // spill each in the r15 stage profile
      (s, d) => sortedOut(SubstringDedup.winnowedGramPairs(docs(s, d), "doc_id",
          "text", L = 40, w = 8, minShared = 2), "id_a", "id_b"),
      None), // xxhash64 fingerprints — not DuckDB-expressible

    Entry("dedup_substring_winnowed_md5",
      // the winnowed path's ORACLE GATE (closes r7's last unoracled
      // text path): identical winnow semantics — each w-window
      // contributes its min hash, value-based so tie-break-free — over
      // md5 char grams both engines hash identically, replayed in
      // DuckDB as a window min. Winnow-select AND the capped
      // posting-pair path are cross-engine checked end-to-end; only the
      // fingerprint encoding differs from the production xxhash kernel
      // (the dedup_semantic_md5 discipline).
      (s, d) => SubstringDedup.winnowedGramPairsMd5(docs(s, d), "doc_id", "text",
          L = 40, w = 8, minShared = 2)
        .orderBy("id_a", "id_b"),
      Some(Oracles.substringWinnowedMd5Oracle(l = 40, w = 8, minShared = 2,
        maxDf = 1000))),

    Entry("text_dup_span_stats",
      // per-doc duplicated-substring profile (the Lee et al. 2022 corpus
      // metric): fraction of 40-gram positions whose gram appears in ≥ 2
      // distinct docs. One distinct + one vocab-sized df agg + one hash
      // join back, everything partitioned by gram hash — linear in
      // corpus chars at any scale.
      // NO sortedOut here although the final agg+join runs twice under
      // the range-bound sampling: this is the one MedianLegs probe
      // family, whose purity contract (ScaleProbeContractSpec) forbids
      // cache-backed plans — and the r15 win came from the partition
      // sizing inside dupSpanStats anyway (100.6 → 45.2 s without it).
      (s, d) => SubstringDedup.dupSpanStats(docs(s, d), "doc_id", "text", L = 40)
        .orderBy("doc_id"),
      Some(Oracles.dupSpanStatsOracle(l = 40))),

    Entry("dedup_semantic_md5",
      // the ORACLED SemDeDup gate: same clusterDupPairs + CC path as
      // dedup_semantic, but the cell assignment is a DETERMINISTIC
      // axis-sign hyperplane bucket (sign pattern of dims 0-5) over an
      // md5-perturbed planted corpus — both engines hash the same
      // `sem:<id>:<i>` strings and round the planted values through
      // float, so the inputs are bit-identical and the in-cell cosine
      // join + connected components are cross-engine checkable. The
      // k-means assignment path (dedup_semantic) stays rows-only by
      // necessity; this closes the family's oracle gap the way
      // dedup_simhash_md5_pairs does for SimHash. Output: dropped rows.
      (s, d) => {
        // planted corpus shared with the other *_md5 embedding gates —
        // see embSemPlanted for the perturbation/margin argument
        val planted = embSemPlanted(s, d)
        val assign = planted.select(col("vec_id").as("id"),
          (0 until 6).map(i =>
            when(element_at(col("embedding"), i + 1) >= 0, lit(1L << i))
              .otherwise(lit(0L))).reduce(_ + _).as("cl"))
        SemDedup.semanticDedup(planted, "vec_id", "embedding", assign, tau = 0.98)
          .filter(col("is_dup") === 1)
          .select(col("id"), col("cluster_id"), col("kept_id"))
          .orderBy("id")
      },
      Some(Oracles.semanticMd5Oracle)),

    Entry("dedup_embedding_cosine_md5",
      // the embedding near-dup path's ORACLE GATE (the production
      // xxhash-hyperplane variant above stays rows-only by necessity):
      // banded DETERMINISTIC axis-sign cells — band b is the sign
      // pattern of dims [16b, 16b+16), exact under float widening — over
      // the md5-planted corpus, candidates where ANY band agrees, exact
      // cosine ≥ 0.9 verifies. Cross-engine output is (id_a, id_b,
      // n_bands): pair membership AND the per-pair band-collision count
      // are checked; the cosine VALUE stays out of the hash (float vs
      // double accumulation differs in the 6th decimal — membership
      // never does, the planted margin is 0.4 wide).
      (s, d) => Dedup.axisCellNearDups(embSemPlanted(s, d), "vec_id", "embedding",
          threshold = 0.9)
        .orderBy("id_a", "id_b"),
      Some(Oracles.embeddingCosineMd5Oracle(threshold = 0.9,
        bands = Dedup.CellBands, dimsPerBand = Dedup.CellDims))),

    Entry("dedup_vec_ingest_gate",
      // the EMBEDDING ingest gate's batch contract: run the real
      // StreamVecDup state machine over the shadow-planted corpus — seed
      // (wave vec_id % 3 == 0) indexed, two ingest waves probed against
      // the accumulating banded-hyperplane index, bucket-prefix-pruned
      // per batch — and read back every cosine-verified pair, versioned
      // by the detecting batch. The shadow offset (IdStride/2 ≡ 2 mod 3)
      // guarantees every planted pair SPANS waves, so cross-batch
      // detection is exactly what the row count measures.
      (s, d) => {
        val all = embShadowed(s, d)
        val st = scratchDir("dedup_vec_ingest_gate", d)
        // seed-time index sizing (StreamVecDup.Params scaladoc): planes
        // tracks the corpus the index will grow into — fixed planes was
        // the quadratic the scale probe caught in the batch path
        val p = graft.stream.StreamVecDup.Params(
          planes = Dedup.autoPlanes(all.count(), 18))
        graft.stream.StreamVecDup.seedCorpus(all.filter(col("vec_id") % 3 === 0), st, p)
        graft.stream.StreamVecDup.processBatch(all.filter(col("vec_id") % 3 === 1), st, 1L, p)
        graft.stream.StreamVecDup.processBatch(all.filter(col("vec_id") % 3 === 2), st, 2L, p)
        graft.stream.StreamVecDup.pairs(s, st)
          .select(col("id_a"), col("id_b"), col("cosine"), col("ingest_version"))
          .orderBy("id_a", "id_b")
      },
      None), // xxhash64 hyperplanes — not expressible in DuckDB

    Entry("dedup_vec_ingest_gate_md5",
      // the vector gate's ORACLE GATE — the last unoracled ingest-gate
      // family member (r8 verdict #2): the SAME StreamVecDup state
      // machine (seed %3==0, two probed waves, bucket-prefix-pruned
      // index reads, per-version Overwrite), but in cellMode — the
      // deterministic axis-sign index both engines compute bit-for-bit
      // over the md5-planted corpus (the dedup_semantic_md5 discipline;
      // dedup_substring_gate is the versioned-replay template). The
      // shadow offset (+1000000 ≡ 1 mod 3) makes every planted pair SPAN
      // waves, so probe + versioning — not just pair membership — is
      // what the oracle checks: a pair's ingest_version must equal the
      // later doc's wave.
      (s, d) => {
        val all = embSemPlanted(s, d)
        val st = scratchDir("dedup_vec_ingest_gate_md5", d)
        val p = graft.stream.StreamVecDup.Params(
          threshold = 0.9, cellMode = true)
        graft.stream.StreamVecDup.seedCorpus(all.filter(col("vec_id") % 3 === 0), st, p)
        graft.stream.StreamVecDup.processBatch(all.filter(col("vec_id") % 3 === 1), st, 1L, p)
        graft.stream.StreamVecDup.processBatch(all.filter(col("vec_id") % 3 === 2), st, 2L, p)
        graft.stream.StreamVecDup.pairs(s, st)
          .select(col("id_a"), col("id_b"), col("ingest_version"))
          .orderBy("id_a", "id_b")
      },
      Some(Oracles.vecIngestGateMd5Oracle(threshold = 0.9,
        bands = Dedup.CellBands, dimsPerBand = Dedup.CellDims))),

    // ----- §7.5 similarity search
    Entry("sim_topk_brute",
      (s, d) => simBrute5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      Some(Oracles.topkOracle)),

    Entry("sim_topk_native",
      (s, d) => { // same query through the custom TopKPerGroup operator —
        // same oracle, different physical plan (bounded heaps, no sort)
        val e = embs(s, d)
        Similarity.bruteTopKNative(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
          .withColumn("rk", col("rk").cast("long"))
          .orderBy("qid", "rk")
      },
      Some(Oracles.topkOracle)),

    Entry("sim_topk_int8",
      (s, d) => { // int8-quantized cosine top-k: exact integer dots
        // (ByteArrayDot) make this reproducible bit-for-bit in DuckDB
        import graft.functions.vectors
        import org.apache.spark.sql.expressions.Window
        val e8 = embs(s, d).select(col("vec_id"),
          vectors.quantize_int8(col("embedding")).as("q8"))
        val withN = e8.withColumn("qq", vectors.int8_dot(col("q8"), col("q8")))
        val q = broadcast(withN.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("q8").as("qv"), col("qq").as("qn")))
        val c = withN.select(col("vec_id").as("vid"), col("q8").as("cv"), col("qq").as("cn"))
        val scored = c.join(q, col("qid") =!= col("vid"))
          .withColumn("cos", vectors.int8_dot(col("qv"), col("cv")).cast("double") /
            (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double"))))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
        scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
          .select(col("qid"), col("vid"), round(col("cos"), 6).as("cosim"),
            col("rk").cast("long").as("rk"))
          .orderBy("qid", "rk")
      },
      Some("""WITH u AS (SELECT vec_id, unnest(embedding) AS x,
             |            unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
             |e AS (SELECT vec_id, CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT) AS q, i FROM u),
             |n AS (SELECT vec_id, sum(q*q) AS qq FROM e GROUP BY 1),
             |qs AS (SELECT vec_id AS qid, q AS qx, i FROM e WHERE vec_id < 10),
             |dot AS (SELECT qs.qid, e.vec_id AS vid, sum(qs.qx * e.q) AS dp
             |        FROM qs JOIN e ON qs.i = e.i WHERE e.vec_id <> qs.qid GROUP BY 1, 2),
             |c AS (SELECT qid, vid, CAST(dp AS DOUBLE) / (sqrt(CAST(nq.qq AS DOUBLE)) * sqrt(CAST(nv.qq AS DOUBLE))) AS cos
             |      FROM dot JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid),
             |r AS (SELECT qid, vid, round(cos, 6) AS cosim,
             |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM c)
             |SELECT qid, vid, cosim, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    Entry("sim_decontaminate",
      // SEMANTIC benchmark decontamination — the embedding twin of
      // text_contamination's n-gram gate: for every corpus vector, the
      // nearest held-out benchmark vector (vec_id % 97 == 0, matching the
      // text gate's held-out convention) and a contaminated flag at
      // cosine ≥ 0.35 (picked against the fixture's similarity
      // distribution: ~2% of docs flag, so both branches are exercised).
      // Scale shape: benchmark side broadcast AND bounded — a benchmark
      // suite is fixed-size, never a fraction of the corpus, so the
      // held-out set is pinned to the base replica (vec_id < IdStride;
      // a % 97 alone would grow with the corpus and turn the sweep
      // quadratic). Dot products run in the codegen'd FloatArrayDot
      // kernel map-side, and the per-doc argmax is a partial-aggregable
      // max(struct(cos, -bid)) — one shuffle of one small struct per
      // corpus row, no window, at any corpus size.
      (s, d) => {
        import graft.functions.vectors
        val e = embs(s, d)
        val bench = broadcast(e.filter(col("vec_id") % 97 === 0 &&
            col("vec_id") < ScaledFixtures.IdStride)
          .select(col("vec_id").as("bid"), col("embedding").as("bv"),
            vectors.float_norm(col("embedding")).as("bn")))
        val scored = e.join(bench, col("vec_id") =!= col("bid"))
          .withColumn("cos", vectors.float_dot(col("embedding"), col("bv")) /
            (vectors.float_norm(col("embedding")) * col("bn")))
        // ties on cos break toward the SMALLEST bid (mirrors the oracle's
        // ORDER BY cos DESC, bid): max of (cos, -bid) is lexicographic
        scored.groupBy("vec_id")
          .agg(max(struct(col("cos").as("cos"), (-col("bid")).as("nb"))).as("m"))
          .select(col("vec_id"), (-col("m.nb")).cast("long").as("bench_id"),
            round(col("m.cos"), 4).as("cosim"),
            (col("m.cos") >= 0.35).cast("int").as("contaminated"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, unnest(embedding) AS x,
             |            unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
             |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
             |q AS (SELECT vec_id AS bid, x AS qx, i FROM e
             |      WHERE vec_id % 97 = 0 AND vec_id < 10000000),
             |dot AS (SELECT e.vec_id, q.bid, sum(e.x * q.qx) AS dp
             |        FROM e JOIN q ON e.i = q.i WHERE e.vec_id <> q.bid GROUP BY 1, 2),
             |c AS (SELECT dot.vec_id, bid, dp / (nv.nrm * nb.nrm) AS cos
             |      FROM dot JOIN n nv ON nv.vec_id = dot.vec_id JOIN n nb ON nb.vec_id = dot.bid),
             |r AS (SELECT vec_id, bid, cos,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bid) AS rk FROM c)
             |SELECT vec_id, bid AS bench_id, round(cos, 4) AS cosim,
             | CAST(cos >= 0.35 AS INTEGER) AS contaminated
             |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    Entry("sim_ann_lsh",
      (s, d) => simAnnLsh5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      None), // hyperplanes derived from xxhash64 — not expressible in DuckDB

    Entry("sim_ivf",
      (s, d) => simIvf5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      None), // KMeans centroid training — not expressible in DuckDB

    Entry("sim_recall_lsh",
      (s, d) => { // ANN quality as a first-class tracked metric: recall@5
        // of the hyperplane-LSH path (banded 6 planes × 8 bands — the
        // single 16-bucket table's recall collapsed to 0.32 at 200k
        // vectors) vs the exact brute-force top-k; both sides memoized
        Similarity.recallAtK(simBrute5(s, d), simAnnLsh5(s, d), 5).orderBy("qid")
      },
      None), // approx side uses xxhash64 hyperplanes — not DuckDB-expressible

    Entry("sim_ann_lsh_md5",
      // the LSH ANN family's ORACLE GATE — the last twin-less rows-only
      // cluster (r10 verdict #1), closed with the sign-cell discipline's
      // THIRD application (after the IVF coarse quantizer and the
      // embedding near-dup cells): deterministic AXIS-SIGN planes (band
      // b, bit p = sign of dim b*6+p — each axis IS a valid hyperplane)
      // make the whole banded multi-table probe DuckDB-replayable —
      // 8 bands × 6-bit signatures computed map-side, candidate when ANY
      // band's bucket matches, (qid,vid) dedup BEFORE the vectors would
      // shuffle, exact cosine rerank, per-query top-5 window. Production
      // keeps the xxhash64 plane family (`sim_ann_lsh`/`sim_recall_lsh`,
      // recall-pinned in SimilaritySpec — data-independent planes don't
      // collapse on axis-correlated embeddings); this gate proves the
      // shared machinery both run: the band explode, the bucket
      // candidate join, the distinct, the rerank ranking.
      (s, d) => simAnnLshMd5Top5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      Some(Oracles.simAnnLshMd5Oracle(planes = 6, bands = 8))),

    Entry("sim_recall_lsh_md5",
      // recall@5 of the axis-plane LSH path vs the exact brute-force
      // truth, ORACLED — the second recall query with both sides
      // replayable (after sim_recall_ivf_md5), so the recallAtK algebra
      // is cross-engine gated against a SECOND approximate shape: a
      // banded any-match candidate set (which can return FEWER than k
      // rows per query when buckets are sparse — the per-query exact
      // denominator, not the constant k, is what this pins).
      (s, d) => Similarity.recallAtK(simBrute5(s, d), simAnnLshMd5Top5(s, d), 5)
        .orderBy("qid"),
      Some(Oracles.simRecallLshMd5Oracle(planes = 6, bands = 8))),

    Entry("sim_recall_ivf",
      (s, d) => { // recall@5 of the IVF path (nprobe=16 of nlist=√n) vs brute
        Similarity.recallAtK(simBrute5(s, d), simIvf5(s, d), 5).orderBy("qid")
      },
      None), // KMeans quantizer — not DuckDB-expressible

    Entry("sim_pq_rerank",
      // product-quantization ANN, the memory-scale path: the corpus is
      // scanned as 16-byte PQ codes (16× smaller than float32) with
      // m-lookup ADC scoring, a 64-candidate shortlist per query, and an
      // exact cosine rerank over ONLY the shortlisted ids — the
      // two-stage FAISS shape. Codebooks train driver-local on a bounded
      // deterministic sample (never corpus-sized state).
      (s, d) => pqRerank5(s, d).orderBy("qid", "vid"),
      None), // k-means codebooks — not DuckDB-expressible

    Entry("sim_recall_pq",
      // recall@5 of the PQ shortlist+rerank path vs brute force, tracked
      // round-over-round like the LSH and IVF recalls (a codebook or
      // shortlist regression shows up as a changed result row)
      (s, d) => Similarity.recallAtK(simBrute5(s, d), pqRerank5(s, d), 5)
        .orderBy("qid"),
      None),

    Entry("sim_ivf_persisted",
      // the PERSISTED-index probe path, end-to-end: the built index is
      // written as a list-partitioned layout (one directory per posting
      // list — the ANN analog of the text lshIndex artifact), re-loaded,
      // and probed with pruneScan=true, which turns the probed list ids
      // into a static partition filter so the scan READS only
      // ~nprobe/nlist of the corpus (IvfIndexSpec pins the files-read
      // drop). Results must be identical to the in-memory sim_ivf —
      // same quantizer, same probe algebra, different storage path.
      (s, d) => {
        val idx = simIvfIndex(s, d)
        val dir = scratchDir("sim_ivf_persisted", d)
        IvfIndex.write(idx, dir)
        val loaded = IvfIndex.load(s, dir)
        IvfIndex.topK(s, loaded, embs(s, d).filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 5,
            nprobe = math.min(16, loaded.centroids.length), pruneScan = true)
          .withColumn("rk", col("rk").cast("long"))
          .orderBy("qid", "rk")
      },
      None), // KMeans quantizer — not DuckDB-expressible

    Entry("sim_ivf_delta",
      // the index LIFECYCLE as one tracked query: build the persisted
      // layout from 90% of the corpus, applyDelta the held-out 10%
      // (remove-then-add CDC algebra, only touched lists rewritten),
      // probe the MAINTAINED layout with a pruned scan. The query ids
      // (vec_id < 10) straddle the split — vec 0 arrives via the delta,
      // 1-9 via the seed — so the probe exercises both populations and
      // only returns sane neighbors if the delta landed in the right
      // posting lists.
      (s, d) => simIvfDelta5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      None), // KMeans quantizer — not DuckDB-expressible

    Entry("sim_ivf_md5",
      // the IVF family's ORACLE GATE — the r9 verdict's largest
      // remaining unoracled cluster, closed with the discipline that
      // oracled the vector gate and embedding cosine: a DETERMINISTIC
      // sign-cell coarse quantizer (IvfIndex.buildCells — centroids are
      // the 2^6 ±1 sign vectors, a vector's list is the sign pattern of
      // its first 6 dims, which IS the nearest centroid under the
      // KMeans criterion) makes the ENTIRE persisted lifecycle
      // replayable in DuckDB: build on the % 10 != 0 seed → write the
      // list-partitioned layout → applyDelta (upsert the % 10 == 0
      // slice, DELETE the % 10 == 5 slice — remove-then-add algebra,
      // exercised with both legs) → load → pruned probe (nprobe=8 of 64
      // lists as a static partition filter) → exact top-5 rerank. The
      // oracle recomputes the post-delta index contents, the probe
      // ranking, and the rerank from the raw parquet. Production keeps
      // the trained quantizer (sim_ivf/sim_ivf_persisted/sim_ivf_delta,
      // recall-pinned in IvfIndexSpec); this gate proves the machinery
      // those share — assignment join, delta rewrite, partition-pruned
      // probe, rerank window — against a second engine.
      (s, d) => simIvfMd5Top5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      Some(Oracles.simIvfMd5Oracle(bits = 6, nprobe = 8))),

    Entry("sim_recall_ivf_md5",
      // recall@5 of the sign-cell IVF path vs the exact brute-force
      // truth, ORACLED — the only recall query both of whose sides are
      // DuckDB-replayable, so the recall COMPOSITION itself
      // (Similarity.recallAtK's distinct/join/divide algebra) gets a
      // cross-engine gate; the rows-only sim_recall_{lsh,ivf,pq}
      // recalls reuse exactly that code against non-replayable approx
      // sides. Note the truth side searches the FULL corpus while the
      // index excludes the deleted % 10 == 5 slice, so recall here also
      // prices deletions — deterministically in both engines.
      (s, d) => Similarity.recallAtK(simBrute5(s, d), simIvfMd5Top5(s, d), 5)
        .orderBy("qid"),
      Some(Oracles.simRecallIvfMd5Oracle(bits = 6, nprobe = 8))),

    Entry("sim_pq_rerank_md5",
      // the PQ path's ORACLE GATE: deterministic sign-grid codebooks
      // (Pq.gridModel — subspace centroids enumerate ±0.5 sign combos,
      // so encode reduces to per-dim sign matching and the ADC luts are
      // exact doubles cast through REAL identically in both engines)
      // make the two-stage search — codegen'd PqEncode over the corpus,
      // lut-table ADC scan, 64-candidate shortlist, exact cosine rerank
      // of only the shortlisted ids — DuckDB-replayable end to end.
      // Production keeps the trained codebooks (sim_pq_rerank /
      // sim_recall_pq, recall-pinned in PqSpec); this gate proves the
      // shared machinery: the encode kernel, the lut-score scan, the
      // bounded-heap shortlist, the semi-join rerank.
      (s, d) => pqRerankMd5Top5(s, d).orderBy("qid", "vid"),
      Some(Oracles.simPqRerankMd5Oracle(dsub = 4, shortlist = 64))),

    Entry("sim_recall_pq_md5",
      // recall@5 of the sign-grid PQ path vs the exact brute-force
      // truth, ORACLED — the THIRD recall composition gate (after the
      // IVF and LSH twins), pinning the shortlist-then-rerank approx
      // shape: unlike sparse LSH buckets it always returns exactly k
      // rows per query. The rows-only sim_recall_pq reuses exactly this
      // recallAtK code against the trained-codebook side.
      (s, d) => Similarity.recallAtK(simBrute5(s, d), pqRerankMd5Top5(s, d), 5)
        .orderBy("qid"),
      Some(Oracles.simRecallPqMd5Oracle(dsub = 4, shortlist = 64))),

    Entry("sim_ivf_persisted_md5",
      // the PERSISTED-layout leg of the sign-cell lifecycle as its own
      // oracle gate (r11 verdict #4): build on the FULL corpus → write
      // the list-partitioned layout → load → partition-pruned probe →
      // exact rerank. Twin of the rows-only sim_ivf_persisted — same
      // write/load/prune machinery, replayable quantizer.
      (s, d) => simIvfPersistedMd5Top5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      Some(Oracles.simIvfPersistedMd5Oracle(bits = 6, nprobe = 8))),

    Entry("sim_ivf_delta_md5",
      // the DELTA-maintenance leg as its own oracle gate (r11 verdict
      // #4), mirroring the production sim_ivf_delta: seed 90% → upsert
      // the held-out 10% via applyDelta (only touched lists rewritten)
      // → maintenance health check (declines the rebuild at +11%) →
      // probe the maintained layout. The oracle replays the flattened
      // post-delta state — the full corpus — so a delta that landed in
      // the wrong posting list, or a maintain() that corrupted state,
      // hash-mismatches.
      (s, d) => simIvfDeltaMd5Top5(s, d)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("qid", "rk"),
      Some(Oracles.simIvfDeltaMd5Oracle(bits = 6, nprobe = 8))),

    // ----- §7.5 text analysis
    Entry("text_lm_score",
      // CCNet-style LM quality filter (TextLm): smoothed bigram LM
      // trained on the doc_id % 13 reference slice, every other doc
      // scored by mean per-bigram surprisal. The LM table is
      // vocabulary-sized and precomputed; scoring is a shuffle_hash join
      // against it (the corpus side never sorts); surprisal terms sum as
      // DECIMAL(28,9) so the distributed per-doc sum is bit-reproducible
      // by the single-node oracle.
      (s, d) => TextLm.scoreDocs(docs(s, d), "doc_id", "text",
          col("doc_id") % 13 === 0)
        .withColumn("n_bigrams", col("n_bigrams").cast("long"))
        .orderBy("doc_id"),
      Some(Oracles.lmScoreOracle)),

    Entry("text_nb_classifier",
      // closed-form quality/language CLASSIFIER (TextClassifier): the
      // linear bag-of-words filter stage of the public LLM-data recipes
      // (GPT-3's quality classifier, CCNet's fastText), as multinomial
      // Naive Bayes so the trained model is two aggregations instead of
      // SGD. Weak labels come from langId over the doc_id % 5 training
      // slice (is-English); every other doc is scored by the
      // vocabulary-sized DECIMAL(28,9) weight table through a
      // shuffle_hash join and decided at log-odds > 0. `actual_en` and
      // `correct` expose the held-out confusion so the oracle gates the
      // MODEL VALUES and the decisions, not just the plumbing.
      (s, d) => {
        val all = docs(s, d)
        val nb = TextClassifier.train(all.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", TextStats.langId(col("text")) === "en")
        TextClassifier.score(nb, all.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
          .join(all.select(col("doc_id"),
            (TextStats.langId(col("text")) === "en").cast("int").as("actual_en")),
            Seq("doc_id"))
          .withColumn("pred_en", (col("log_odds") > 0).cast("int"))
          .withColumn("correct", (col("pred_en") === col("actual_en")).cast("int"))
          .select(col("doc_id"), col("n_vocab_tokens"), col("log_odds"),
            col("pred_en"), col("actual_en"), col("correct"))
          .orderBy("doc_id")
      },
      Some(Oracles.nbClassifierOracle)),

    Entry("stream_lm_gate",
      // the streaming QUALITY gate's batch contract, oracled: the real
      // StreamLmGate state machine — LM trained on the wave-0 seed and
      // persisted, waves 1 and 2 scored against the static parquet state
      // and admitted by the scale-free ln(V) ceiling, partition-
      // overwrite versioning. Completes the gate family (near-dup / vec
      // / quality).
      (s, d) => {
        val all = docs(s, d)
        val st = scratchDir("stream_lm_gate", d)
        graft.stream.StreamLmGate.seed(all.filter(col("doc_id") % 3 === 0), st)
        graft.stream.StreamLmGate.processBatch(all.filter(col("doc_id") % 3 === 1), st, 1L)
        graft.stream.StreamLmGate.processBatch(all.filter(col("doc_id") % 3 === 2), st, 2L)
        graft.stream.StreamLmGate.scores(s, st)
          .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
            col("admitted"), col("batch").cast("long").as("batch"))
          .orderBy("doc_id")
      },
      Some(Oracles.streamLmGateOracle)),

    Entry("text_langid",
      // sort-first, project-above (r15; see text_bpe_apply)
      (s, d) => docs(s, d).orderBy("doc_id")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred")),
      Some(Oracles.langIdSql)),

    Entry("text_quality",
      // ONE TextProfile kernel pass per doc: token counts AND the score
      // derive from the same projected struct (the earlier form paid two
      // extra regex scans — split for n_tokens, regexp_count for
      // n_bpeish — on top of the kernel)
      // sort-first, project-above (r15; see text_bpe_apply)
      (s, d) => docs(s, d).orderBy("doc_id")
        .select(col("doc_id"), graft.functions.text.text_profile(
          col("text"), TextStats.LangStopwords.flatMap(_._2)).as("st"))
        .select(col("doc_id"),
          col("st.n_tokens_ws").cast("long").as("n_tokens"),
          col("st.n_bpeish").cast("long").as("n_bpeish"),
          TextStats.qualityFromProfile(col("st")).as("quality")),
      Some(Oracles.qualitySql)),

    Entry("text_top_words",
      (s, d) => { // corpus-wide top-20 words: explode → partial-agg count
        // (map-side combine) → global top-k
        val counts = docs(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n"))
        counts.orderBy(col("n").desc, col("word")).limit(20)
      },
      Some("""SELECT word, count(*) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)),

    Entry("text_idf",
      (s, d) => { // corpus document-frequency / IDF table: distinct words
        // per doc → df per word → ln(N/df). One explode + one count agg
        // with map-side combine; N computed via a window-free broadcast
        // scalar (count is tiny). Top 50 by df for a bounded output.
        val n = docs(s, d).count()
        val df = docs(s, d)
          .select(explode(array_distinct(split(col("text"), " "))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("df"))
          .withColumn("idf", round(log(lit(n.toDouble) / col("df")), 6))
        df.orderBy(col("df").desc, col("word")).limit(50)
      },
      Some(IdfOracle)),

    Entry("text_idf_incremental",
      // corpus-stats MAINTENANCE: the committed 90% slice's word-df table
      // full-outer-merged with the 10% delta's (sum of counts — df is
      // additive over disjoint doc sets), IDF recomputed from the
      // maintained total. Declared against the SAME oracle as text_idf:
      // exact agreement with the from-scratch table IS the maintenance
      // proof, checked at the t2 gate on every round. At scale the merge
      // touches word-count rows (vocabulary-sized), never the corpus.
      (s, d) => {
        val all = docs(s, d)
        def dfCounts(df: DataFrame) = df
          .select(explode(array_distinct(split(col("text"), " "))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("df"))
        val committed = dfCounts(all.filter(col("doc_id") % 10 =!= 0))
          .select(col("word"), col("df").as("df_a"))
        val delta = dfCounts(all.filter(col("doc_id") % 10 === 0))
          .select(col("word"), col("df").as("df_b"))
        val merged = committed.join(delta, Seq("word"), "full_outer")
          .select(col("word"),
            (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"))
        val n = all.count()
        merged.withColumn("idf", round(log(lit(n.toDouble) / col("df")), 6))
          .orderBy(col("df").desc, col("word")).limit(50)
      },
      Some(IdfOracle)),

    Entry("sample_topk_group",
      // deterministic per-group exemplar sample ("k docs per language"):
      // md5-rank order pushed through the custom bounded-heap
      // TopKPerGroup operator — no Window, no per-group full sort, heap
      // memory O(k) per group at any corpus size — and oracled against
      // DuckDB's row_number replay of the same md5 permutation.
      (s, d) => {
        val ranked = docs(s, d).select(col("lang"), col("doc_id"),
          md5(concat(lit("samp:"), col("doc_id").cast("string"))).as("rkey"))
        graft.plans.TopK.perGroup(ranked, Seq("lang"),
            Seq(("rkey", true), ("doc_id", true)), k = 10)
          .orderBy("lang", "rkey", "doc_id")
      },
      Some("""WITH r AS (SELECT lang, doc_id,
             |        md5('samp:' || CAST(doc_id AS VARCHAR)) AS rkey,
             |        row_number() OVER (PARTITION BY lang
             |          ORDER BY md5('samp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |        FROM documents)
             |SELECT lang, doc_id, rkey FROM r WHERE rn <= 10
             |ORDER BY lang, rkey, doc_id""".stripMargin)),

    Entry("dedup_simhash_pairs",
      (s, d) => Dedup.simhashNearDupPairs(docs(s, d), "doc_id", "text",
        maxDist = 3, bands = 4).orderBy("id_a", "id_b"),
      None), // xxhash64-based sketches — not DuckDB-expressible

    Entry("dedup_simhash_md5_pairs",
      // the ORACLED SimHash gate: 60-bit md5 signatures (Dedup
      // .simhashMd5Table — per-hex-digit bit extraction replayed
      // verbatim in DuckDB) → 4×15-bit banded pigeonhole blocking →
      // exact hamming ≤ 3. The xxhash paths (dedup_simhash*) stay
      // rows-only by necessity; this variant closes the family's
      // cross-engine gap the way the salted-md5 MinHash does for LSH.
      (s, d) => Dedup.simhashMd5Pairs(docs(s, d), "doc_id", "text", maxDist = 3)
        .withColumn("dist", col("dist").cast("int"))
        .orderBy("id_a", "id_b"),
      Some(Oracles.simhashMd5PairsOracle)),

    Entry("text_contamination",
      (s, d) => { // benchmark decontamination: fraction of each doc's
        // word 3-grams that appear in a held-out benchmark set (docs
        // with doc_id % 97 == 0). Shingles explode once per side; the
        // overlap is a semi-join-then-count against the DISTINCT
        // benchmark shingle set — never a doc×doc comparison, so cost is
        // ∝ corpus shingles + benchmark shingles at any scale
        val sh = docs(s, d).select(col("doc_id"),
          explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
        val bench = sh.filter(col("doc_id") % 97 === 0)
          .select(col("sh").as("bsh")).distinct()
        // per-doc totals come from a MAP-SIDE size(), not the join: the
        // earlier left-outer form shuffled every corpus shingle (~94M
        // rows at the 4× probe scale) just to count them — the 10.5×
        // scale cliff when the benchmark side outgrew AQE's broadcast.
        // Only MATCHES ride the inner join now, and the shuffle_hash
        // hint keeps the beyond-broadcast fallback a hash join instead
        // of sorting the whole corpus-shingle side. (A REAL held-out
        // benchmark set is fixed-size; a production caller would
        // broadcast() it explicitly — this fixture's grows as corpus/97.)
        val totals = docs(s, d).select(col("doc_id"),
            size(Dedup.wordShingles(col("text"), 3)).cast("long").as("n_ngrams"))
          .filter(col("doc_id") % 97 =!= 0 && col("n_ngrams") > 0)
        val matched = sh.filter(col("doc_id") % 97 =!= 0)
          .join(bench.hint("shuffle_hash"), col("sh") === col("bsh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_contaminated"))
        totals.join(matched, "doc_id")
          .withColumn("contamination",
            round(col("n_contaminated") / col("n_ngrams"), 6))
          .select(col("doc_id"), col("n_ngrams"), col("n_contaminated"),
            col("contamination"))
          .orderBy("doc_id")
      },
      Some(contaminationOracle)),

    Entry("text_contamination_bloom",
      // the 100 TB decontamination shape: same semantics and SAME oracle
      // as text_contamination, but the corpus-shingle side is prefiltered
      // INSIDE the scan stage by a broadcast Bloom sketch of the
      // benchmark shingles (one tree-aggregate build pass over the
      // fixed-size benchmark side, a few MB of bits at 1% fpp). Bloom has
      // no false negatives, so the downstream EXACT join sees every true
      // match and removes the fpp sliver of false positives — output
      // bit-identical to the unfiltered join while only ~matches+fpp of
      // the corpus shingles ever reach the exchange (the plain path
      // shuffles all of them; ~94M rows at the 4× probe scale). The
      // benchmark-side sum(size(...)) sizing pass is one cheap scan of
      // the FIXED side — a production caller knows its benchmark size.
      (s, d) => {
        val benchDocs = docs(s, d).filter(col("doc_id") % 97 === 0)
        val bench = benchDocs
          .select(explode(Dedup.wordShingles(col("text"), 3)).as("bsh"))
        val nBench = benchDocs
          .select(coalesce(sum(size(Dedup.wordShingles(col("text"), 3))), lit(0L))
            .cast("long"))
          .head().getLong(0)
        val bf = graft.ext.BloomGate.build(s, bench, "bsh", math.max(nBench, 1L))
        val totals = docs(s, d).select(col("doc_id"),
            size(Dedup.wordShingles(col("text"), 3)).cast("long").as("n_ngrams"))
          .filter(col("doc_id") % 97 =!= 0 && col("n_ngrams") > 0)
        val cand = docs(s, d).filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"),
            explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
          .filter(graft.ext.BloomGate.mightContain(col("sh"), bf))
        val matched = cand
          .join(bench.distinct().hint("shuffle_hash"), col("sh") === col("bsh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_contaminated"))
        totals.join(matched, "doc_id")
          .withColumn("contamination",
            round(col("n_contaminated") / col("n_ngrams"), 6))
          .select(col("doc_id"), col("n_ngrams"), col("n_contaminated"),
            col("contamination"))
          .orderBy("doc_id")
      },
      Some(contaminationOracle)),

    Entry("emb_centroids",
      (s, d) => { // per-label centroid of the embedding space — the
        // building block IVF training and cluster-quality checks share.
        // posexplode → per-(label, dim) mean (map-side partial agg) →
        // reassemble in dim order
        val e = embs(s, d)
        val byDim = e.select(col("label"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy("label", "dim")
          .agg(avg(col("x").cast("double")).as("m"))
        byDim.groupBy("label")
          .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("s"))
          .select(col("label"),
            round(expr("aggregate(s, CAST(0.0 AS DOUBLE), (a, v) -> a + v.m * v.m)"), 6)
              .as("centroid_sqnorm"),
            round(element_at(col("s"), 1).getField("m"), 6).as("dim0_mean"))
          .orderBy("label")
      },
      Some("""WITH u AS (SELECT label, unnest(embedding) AS x,
             |            unnest(generate_series(1, len(embedding))) AS dim
             |           FROM embeddings),
             |m AS (SELECT label, dim, avg(CAST(x AS DOUBLE)) AS m FROM u GROUP BY 1, 2)
             |SELECT label, round(sum(m * m), 6) AS centroid_sqnorm,
             |  round(CAST(min(CASE WHEN dim = 1 THEN m END) AS DOUBLE), 6) AS dim0_mean
             |FROM m GROUP BY label ORDER BY label""".stripMargin)),

    Entry("text_fingerprint",
      // sort-first, project-above (r15; see text_bpe_apply)
      (s, d) => docs(s, d).orderBy("doc_id")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("text_repetition",
      // Gopher-style within-doc repetition filter: fraction of word
      // 3-gram occurrences repeating an earlier one. The fixture's
      // word-soup docs produce meaningfully nonzero ratios.
      (s, d) => {
        // native single-pass kernel: the struct is projected ONCE and the
        // three outputs are field extractions — vs the interpreted
        // wordShingles HOF evaluated ~4× per row (20 s → sub-second)
        docs(s, d)
          .select(col("doc_id"), graft.functions.text.ngram_stats(col("text"), 3).as("st"))
          .select(col("doc_id"),
            col("st.n_ngrams").as("n_ngrams"),
            col("st.n_distinct").as("n_distinct"),
            TextStats.repetitionFromStats(col("st")).as("rep_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM dd),
             |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM x),
             |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_ngrams,
             |        CAST(count(DISTINCT s) AS INT) AS n_distinct FROM sh GROUP BY 1)
             |SELECT d.doc_id, coalesce(agg.n_ngrams, 0) AS n_ngrams,
             | coalesce(agg.n_distinct, 0) AS n_distinct,
             | CASE WHEN agg.n_ngrams > 0
             |   THEN round(1.0 - CAST(agg.n_distinct AS DOUBLE) / agg.n_ngrams, 6)
             |   ELSE 0.0 END AS rep_ratio
             |FROM documents d LEFT JOIN agg USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    Entry("text_line_dedup",
      // cross-document LINE-level boilerplate removal (ext/LineDedup) —
      // the CCNet/RefinedWeb cleanup stage this family lacked: lines
      // occurring in ≥ minDf distinct docs (site headers, footers, nav,
      // license blurbs) are dropped from every doc, survivors reassemble
      // in order, and a fully-boilerplate doc stays as an empty row. The
      // flat word-soup fixture has no line structure, so the entry
      // DERIVES a lined corpus both engines replay exactly (the planted-
      // variant discipline): fixed 8-word lines from the token stream
      // plus a planted per-source header and per-lang footer — those
      // repeat across hundreds of docs and must vanish, the content
      // lines are unique and must survive. Line identity crosses the
      // wire as md5 of the trimmed line (key width is the shuffle bill).
      (s, d) => {
        val words = split(col("text"), " ")
        val nLines = ceil(size(words) / lit(8.0)).cast("int")
        val body = concat_ws("\n", transform(sequence(lit(0), nLines - 1),
          g => concat_ws(" ", slice(words, g * 8 + 1, lit(8)))))
        val lined = docs(s, d).select(col("doc_id"),
          concat_ws("\n",
            concat(lit("== "), col("source"), lit(" header ==")),
            body,
            concat(lit("-- "), col("lang"), lit(" footer --"))).as("text"))
        LineDedup.dropBoilerplate(lined, "doc_id", "text", minDf = 3)
          .orderBy("doc_id")
      },
      Some(Oracles.lineDedupOracle(minDf = 3, wordsPerLine = 8))),

    Entry("text_line_dedup_xx",
      // PRODUCTION mode of the line-boilerplate drop: identical
      // semantics and derived corpus as text_line_dedup, but line
      // identity crosses the wire as xxhash64 BIGINT — 8 bytes against
      // the md5 mode's 32-hex, a 4x narrower df shuffle and anti-join
      // key (the dedup_substring_gate / _xx split). Rows-only by
      // necessity (DuckDB has no xxhash); the md5 twin above IS the
      // oracle for the algebra, and LineDedupSpec pins mode parity on
      // the fixture corpus.
      (s, d) => {
        val words = split(col("text"), " ")
        val nLines = ceil(size(words) / lit(8.0)).cast("int")
        val body = concat_ws("\n", transform(sequence(lit(0), nLines - 1),
          g => concat_ws(" ", slice(words, g * 8 + 1, lit(8)))))
        val lined = docs(s, d).select(col("doc_id"),
          concat_ws("\n",
            concat(lit("== "), col("source"), lit(" header ==")),
            body,
            concat(lit("-- "), col("lang"), lit(" footer --"))).as("text"))
        LineDedup.dropBoilerplate(lined, "doc_id", "text", minDf = 3,
            md5Mode = false)
          .orderBy("doc_id")
      },
      None),

    Entry("text_clean",
      // C4-style scrub (mask emails/URLs, collapse whitespace). The
      // fixture text is already clean, so the oracle here pins
      // cross-engine REGEX parity and the plumbing; TextStatsSpec
      // exercises the redaction itself on planted fixtures.
      // sort-first, project-above (r15): keeps the range exchange's
      // bound-sampling pass off the 3-regex scrub (see text_bpe_apply)
      (s, d) => docs(s, d).orderBy("doc_id")
        .select(col("doc_id"), TextStats.cleanText(col("text")).as("clean_text")),
      Some(s"""SELECT doc_id,
              | trim(regexp_replace(regexp_replace(regexp_replace(text,
              |   '${TextStats.EmailPattern}', '<EMAIL>', 'g'),
              |   '${TextStats.UrlPattern}', '<URL>', 'g'), '\\s+', ' ', 'g')) AS clean_text
              |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("text_pii_scrub",
      // PII redaction (the pass a corpus pipeline runs AFTER the C4
      // scrub): SSN / dashed-phone / IPv4 masking plus per-kind audit
      // counts. The fixture text carries no PII, so each doc gets a
      // deterministic planted triple derived from doc_id — IDENTICAL
      // arithmetic on both engines — making the oracle gate the regex
      // semantics AND the redaction, not just plumbing. Map-side only:
      // three codegen'd regexp_replace + three regexp_count, no shuffle.
      (s, d) => {
        val did = col("doc_id")
        val planted = concat(col("text"),
          lit(" ssn "), ((did % 900) + 100).cast("string"), lit("-"),
          lpad((did % 100).cast("string"), 2, "0"), lit("-"),
          lpad(((did * 3) % 10000).cast("string"), 4, "0"),
          lit(" call "), ((did % 700) + 200).cast("string"), lit("-"),
          lpad(((did * 7) % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((did % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (did % 256).cast("string"), lit("."),
          ((did * 11) % 256).cast("string"), lit("."),
          ((did % 254) + 1).cast("string"))
        val (nSsn, nPhone, nIp) = TextStats.piiCounts(planted)
        // sort-first, project-above (r15): keeps the range exchange's
        // bound-sampling pass off the 6 regex kernels (see text_bpe_apply)
        docs(s, d).orderBy("doc_id").select(col("doc_id"),
          nSsn.cast("long").as("n_ssn"),
          nPhone.cast("long").as("n_phone"),
          nIp.cast("long").as("n_ip"),
          TextStats.scrubPii(planted).as("scrubbed"))
      },
      Some(s"""WITH p AS (SELECT doc_id,
              |  text || ' ssn ' || CAST((doc_id % 900) + 100 AS VARCHAR) || '-' ||
              |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
              |    lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') ||
              |  ' call ' || CAST((doc_id % 700) + 200 AS VARCHAR) || '-' ||
              |    lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
              |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
              |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
              |    CAST((doc_id * 11) % 256 AS VARCHAR) || '.' ||
              |    CAST((doc_id % 254) + 1 AS VARCHAR) AS t
              |  FROM documents)
              |SELECT doc_id,
              | CAST(len(regexp_extract_all(t, '${TextStats.SsnPattern}')) AS BIGINT) AS n_ssn,
              | CAST(len(regexp_extract_all(t, '${TextStats.PhonePattern}')) AS BIGINT) AS n_phone,
              | CAST(len(regexp_extract_all(t, '${TextStats.Ipv4Pattern}')) AS BIGINT) AS n_ip,
              | regexp_replace(regexp_replace(regexp_replace(t,
              |   '${TextStats.SsnPattern}', '<SSN>', 'g'),
              |   '${TextStats.PhonePattern}', '<PHONE>', 'g'),
              |   '${TextStats.Ipv4Pattern}', '<IP>', 'g') AS scrubbed
              |FROM p ORDER BY doc_id""".stripMargin)),

    Entry("text_oov_rate",
      // vocabulary-coverage quality filter: fraction of each doc's tokens
      // outside the corpus top-V vocabulary (V=24 against the fixture's
      // 31-word vocabulary, so rates span 0..~0.4 and both in- and
      // out-of-vocab branches are exercised). Two shuffles at any scale:
      // word counts (Zipf-skewed, tamed by partial agg), then the
      // per-doc agg; the vocabulary itself is top-k via TakeOrdered and
      // broadcast — never a corpus-sized side.
      (s, d) => {
        val words = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val vocab = words.groupBy("word").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word")).limit(24)
          .select(col("word"), lit(1).as("iv"))
        words.join(broadcast(vocab), Seq("word"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            sum(when(col("iv").isNull, 1).otherwise(0)).cast("long").as("n_oov"))
          .withColumn("oov_rate",
            round(col("n_oov").cast("double") / col("n_tokens"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
             |v AS (SELECT word FROM (SELECT word, count(*) AS n FROM w
             |                        GROUP BY 1 ORDER BY n DESC, word LIMIT 24)),
             |a AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |      CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
             |      FROM w LEFT JOIN v USING (word) GROUP BY 1)
             |SELECT doc_id, n_tokens, n_oov,
             | round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate
             |FROM a ORDER BY doc_id""".stripMargin)),

    Entry("text_domains",
      // domain-level corpus statistics (the input to domain allow/deny
      // filtering): extract every URL's host, count mentions and distinct
      // docs per domain. The fixture text carries no URLs, so each doc
      // gets two planted ones (deterministic doc_id arithmetic, mirrored
      // in the oracle) — the gate proves extraction + grouping, with a
      // bounded 74-domain output. Extraction is a map-side
      // regexp_extract_all capture group; one count-distinct shuffle.
      (s, d) => {
        val did = col("doc_id")
        val planted = concat(col("text"),
          lit(" see https://site"), (did % 37).cast("string"),
          lit(".example.com/p/"), did.cast("string"),
          lit(" and http://m"), ((did * 13) % 37).cast("string"),
          lit(".example.org/x"))
        docs(s, d)
          .select(col("doc_id"),
            explode(regexp_extract_all(planted, lit("https?://([^/ ]+)"), lit(1))).as("domain"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("domain")
      },
      Some("""WITH p AS (SELECT doc_id,
             |  text || ' see https://site' || CAST(doc_id % 37 AS VARCHAR) ||
             |    '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
             |  ' and http://m' || CAST((doc_id * 13) % 37 AS VARCHAR) ||
             |    '.example.org/x' AS t FROM documents),
             |u AS (SELECT doc_id, unnest(regexp_extract_all(t, 'https?://([^/ ]+)', 1)) AS domain FROM p)
             |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
             | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM u GROUP BY domain ORDER BY domain""".stripMargin)),

    Entry("graph_pagerank",
      // host-graph PageRank (domain authority for source weighting):
      // planted link edges from deterministic doc_id arithmetic (the
      // fixture text has no links — same discipline as text_domains),
      // 10 damped power iterations in FIXED-POINT BIGINT arithmetic so
      // the distributed run and the DuckDB unrolled-CTE oracle agree
      // bit-for-bit (integer sums are order-independent; float PageRank
      // would diverge on summation order alone).
      (s, d) => {
        val e1 = docs(s, d).selectExpr(
          "concat('site', cast(doc_id % 37 as string), '.example.com') as src",
          "concat('m', cast((doc_id * 13 + doc_id div 37) % 37 as string), '.example.org') as dst")
        val e2 = docs(s, d).selectExpr(
          "concat('m', cast((doc_id * 13 + doc_id div 37) % 37 as string), '.example.org') as src",
          "concat('site', cast((doc_id * 7 + doc_id div 41) % 37 as string), '.example.com') as dst")
        val edges = e1.union(e2).groupBy("src", "dst").agg(count(lit(1)).as("w"))
        Graph.pageRankFixedPoint(edges, iters = 10)
          .select(col("node"),
            round(col("r").cast("double") / Graph.Scale, 6).as("rank"))
          .orderBy("node")
      },
      Some(Graph.pageRankOracleSql(
        """SELECT src, dst, count(*) AS w FROM (
          |  SELECT 'site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com' AS src,
          |         'm' || CAST((doc_id * 13 + doc_id // 37) % 37 AS VARCHAR) || '.example.org' AS dst
          |  FROM documents
          |  UNION ALL
          |  SELECT 'm' || CAST((doc_id * 13 + doc_id // 37) % 37 AS VARCHAR) || '.example.org',
          |         'site' || CAST((doc_id * 7 + doc_id // 41) % 37 AS VARCHAR) || '.example.com'
          |  FROM documents) GROUP BY 1, 2""".stripMargin, iters = 10))),

    Entry("text_bm25_search",
      // BM25 retrieval: top-10 docs per query over the corpus. The
      // broadcast query-term filter prunes tokens at the scan (only
      // matching postings shuffle), corpus stats ride in as literals,
      // and DECIMAL term-score sums make the distributed aggregate
      // bit-reproducible by the single-node oracle (Bm25.oracleSql is
      // generated from the same constants — one formula, two engines).
      (s, d) => Bm25.searchTopK(docs(s, d), "doc_id", "text",
        Bm25Queries, k = 10).orderBy("qid", "doc_id"),
      Some(Bm25.oracleSql(Bm25Queries, k = 10))),

    // ----- §7.5 multimodal magic-byte dispatch (REAL codecs, oracled)
    Entry("mm_decode_features",
      // a MIXED media corpus — every doc renders as PNG (id%3=0), WAV
      // (id%3=1) or MJPEG-AVI (id%3=2) — pushed through the magic-byte
      // dispatch decode. ORACLED: kind, decoded dims and frame counts
      // are pure variant arithmetic, so the t2 gate proves all three
      // codec round-trips AND the dispatch itself (the perceptual
      // feature column is engine-internal and excluded).
      // sortedOut (r15): the codec decode ran twice under the
      // range-bound sampling (the media corpus is parquet-memoized but
      // the decode map is not)
      (s, d) => sortedOut(Multimodal.decodeFeatures(s, mmMixedMedia(s, d)).toDF()
        .select(col("media_id"), col("kind"),
          col("decode_ok").cast("int").as("decode_ok"),
          col("width"), col("height"), col("n_frames")), "media_id"),
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(1 AS INTEGER) AS decode_ok,
             | CAST(CASE doc_id % 3 WHEN 0 THEN 48 + ((doc_id % 50) % 4) * 8
             |                      WHEN 1 THEN 0
             |                      ELSE 32 + ((doc_id % 50) % 4) * 8 END AS INTEGER) AS width,
             | CAST(CASE doc_id % 3 WHEN 0 THEN 32 + ((doc_id % 50) % 3) * 8
             |                      WHEN 1 THEN 0
             |                      ELSE 24 + ((doc_id % 50) % 3) * 8 END AS INTEGER) AS height,
             | CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2000 ELSE 3 END AS BIGINT) AS n_frames
             |FROM documents ORDER BY media_id""".stripMargin)),

    Entry("text_bpe_pairs",
      // the distributed kernel of BPE tokenizer training: weighted
      // adjacent-character pair counts over the VOCABULARY (word ×
      // frequency — the corpus is scanned once, the pair explode runs
      // over distinct words only). Top 30 fully ordered, so the argmax
      // the first merge round would pick is pinned cross-engine.
      (s, d) => {
        val w = Bpe.wordCounts(docs(s, d), "text")
          .filter(length(col("word")) >= 2)
        w.select(col("word"), col("freq"),
            explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
          .select(expr("substring(word, i, 1)").as("lft"),
            expr("substring(word, i + 1, 1)").as("rgt"), col("freq"))
          .groupBy("lft", "rgt").agg(sum("freq").as("cnt"))
          .orderBy(desc("cnt"), col("lft"), col("rgt"))
          .limit(30)
      },
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
             |f AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM t
             |      WHERE len(word) >= 2 GROUP BY 1),
             |p AS (SELECT substr(word, i, 1) AS lft, substr(word, i + 1, 1) AS rgt, freq
             |      FROM (SELECT word, freq, unnest(generate_series(1, len(word) - 1)) AS i
             |            FROM f))
             |SELECT lft, rgt, CAST(sum(freq) AS BIGINT) AS cnt
             |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, lft, rgt LIMIT 30""".stripMargin)),

    Entry("text_bpe_train",
      // 8 learned BPE merges over the fixture corpus (ext.Bpe): the
      // iterative argmax + greedy merge-apply loop. ORACLED (new r9):
      // the lookaround-regex apply that kept this rows-only through r8
      // is replayed with the sentinel literal-replace discipline
      // text_bpe_apply established — but with the merge pair coming
      // from each round's argmax ROW instead of a shipped constant, the
      // 8 (count → argmax → apply) stages unrolled as one DuckDB CTE
      // program (Oracles.bpeTrainOracle). BpeSpec additionally pins the
      // algebra against a hand-computed classic corpus.
      (s, d) => Bpe.trainTable(docs(s, d), "text", rounds = 8)
        .orderBy("round"),
      Some(Oracles.bpeTrainOracle(rounds = 8))),

    Entry("text_bpe_apply",
      // tokenizer APPLICATION — the op that touches every byte at 100 TB
      // (training runs once on a sample; encoding runs on the corpus,
      // with a SHIPPED merge list). Greedy rank-order BPE encode as a
      // fold of literal `replace` over sentinel-wrapped chars: pure
      // codegen'd string expressions, one map-side pass, zero shuffle,
      // no UDF/kernel. The fixed artifact (Bpe.FixtureMerges) is what
      // makes the oracle possible: DuckDB replays the same cascade
      // generated from the same constant, and the FULL token sequence
      // crosses engines as an md5 (count as BIGINT). BpeSpec pins the
      // encode against an independent pair-at-a-time reference.
      // SORT-FIRST, ENCODE-ABOVE (r15, guide §1.2/§7.2): a global orderBy
      // plans as Exchange(rangepartitioning), whose bound-sampling job
      // RE-EXECUTES the exchange's whole child — with the encode below
      // the sort, the 25-replace cascade ran twice per row (StageProf:
      // two ~270 task-s stages, one producing nothing). Sorting the raw
      // (doc_id, text) rows first and projecting the encode ABOVE the
      // sort keeps the sampled subtree to the bare scan; rows and their
      // order are identical (projection preserves order; doc_id unique).
      (s, d) => Bpe.applyMerges(docs(s, d).orderBy("doc_id"), "doc_id", "text",
          Bpe.FixtureMerges),
      Some(Oracles.bpeApplyOracle(Bpe.FixtureMerges))),

    Entry("corpus_split_safe",
      // leakage-safe train/valid/test split: the assignment hashes the
      // doc's near-dup CLUSTER representative, not the doc itself, so
      // near-duplicates can never straddle train and test (the classic
      // eval-contamination bug that per-doc hash splits have). Reuses
      // the memoized LSH cluster resolution; the split itself is one
      // narrow md5 projection — no extra shuffle beyond the clustering.
      (s, d) => {
        val b = substring(
          md5(col("cluster_id").cast("string").cast("binary")), 1, 2)
        lshClusters(s, d).select(col("id"), col("cluster_id"),
            when(b < "cc", "train").when(b < "e6", "valid")
              .otherwise("test").as("split"))
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE ${Oracles.lshClusterCtesBody}
              |SELECT id, cluster_id,
              | CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              |      WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
              |      ELSE 'test' END AS split
              |FROM clusters ORDER BY id""".stripMargin)),

    Entry("text_chunk_overlap",
      // RAG-style overlapping chunking: windows of 64 tokens, stride 48
      // (16-token overlap), the op that feeds an embedding model. Pure
      // map-side explode — zero shuffles, trivially linear at any scale;
      // the chunk's head token is materialized to prove the offsets
      // index real tokens, not just arithmetic.
      (s, d) => {
        val toks = split(col("text"), " ")
        docs(s, d).select(col("doc_id"), toks.as("t"),
            size(toks).as("n_tok"))
          .select(col("doc_id"), col("t"), col("n_tok"),
            explode(sequence(lit(0), greatest(col("n_tok") - 1, lit(0)),
              lit(48))).as("tok_start"))
          .select(col("doc_id"),
            (col("tok_start") / 48).cast("long").as("chunk_id"),
            col("tok_start").cast("long").as("tok_start"),
            least(col("tok_start") + 64, col("n_tok")).cast("long").as("tok_end"),
            element_at(col("t"), col("tok_start") + 1).as("head_tok"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |x AS (SELECT doc_id, ws, len(ws) AS n_tok,
             |        unnest(generate_series(0, greatest(len(ws) - 1, 0), 48)) AS tok_start
             |      FROM t)
             |SELECT doc_id, CAST(tok_start / 48 AS BIGINT) AS chunk_id,
             | CAST(tok_start AS BIGINT) AS tok_start,
             | CAST(least(tok_start + 64, n_tok) AS BIGINT) AS tok_end,
             | ws[tok_start + 1] AS head_tok
             |FROM x ORDER BY doc_id, chunk_id""".stripMargin)),

    Entry("agg_cube",
      // full CUBE over two dims (rollup's sibling — reference
      // post_update.py computes per-tribe stats; a dashboard over them
      // wants the cross-tabulation with all subtotal planes)
      (s, d) => Tables.load(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS total,
             | CAST(grouping(o_orderstatus) AS INT) AS g_status,
             | CAST(grouping(o_orderpriority) AS INT) AS g_prio
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Entry("stream_join_attrib",
      // view→click attribution within 30 min — the batch form of the
      // stream-STREAM time-interval join (CdcStream.runAttributionJoin;
      // StreamJoinSpec pins streaming == batch). The range predicate is
      // what bounds streaming state: a view buffers only until the click
      // watermark passes t_view + horizon.
      (s, d) => CdcStream.attributionJoinBatch(Tables.loadEvents(s, d))
        .orderBy("view_id", "click_id"),
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
             | v.ts AS t_view, c.ts AS t_click
             |FROM events v JOIN events c
             |  ON c.user_id = v.user_id
             | AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
             |WHERE v.event_type = 'view' AND c.event_type = 'click'
             |ORDER BY view_id, click_id""".stripMargin)),

    Entry("dedup_containment",
      // asymmetric containment over LSH candidates (Broder's resemblance
      // vs containment): |A∩B|/|A| catches a doc mostly quoted inside a
      // larger one where Jaccard dilutes below any threshold. Verify
      // cost stays ∝ band collisions (same candidate generator as
      // dedup_minhash_lsh — never all-pairs).
      (s, d) => Dedup.containmentPairs(docs(s, d), "doc_id", "text",
          threshold = 0.7).orderBy("id_a", "id_b"),
      Some(s"""WITH ${Oracles.lshBucketCtes},
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
              |${Oracles.wordSetCtes},
              |ix AS (SELECT cand.id_a, cand.id_b, count(*) AS inter
              |       FROM cand JOIN w wa ON wa.doc_id = cand.id_a
              |                 JOIN w wb ON wb.doc_id = cand.id_b AND wb.word = wa.word
              |       GROUP BY 1, 2)
              |SELECT ix.id_a, ix.id_b,
              | round(CAST(inter AS DOUBLE) / c1.n, 6) AS cont_a_in_b,
              | round(CAST(inter AS DOUBLE) / c2.n, 6) AS cont_b_in_a,
              | round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) AS jaccard
              |FROM ix JOIN c c1 ON c1.doc_id = ix.id_a JOIN c c2 ON c2.doc_id = ix.id_b
              |WHERE greatest(round(CAST(inter AS DOUBLE) / c1.n, 6),
              |               round(CAST(inter AS DOUBLE) / c2.n, 6)) >= 0.7
              |ORDER BY id_a, id_b""".stripMargin)),

    Entry("events_anomaly",
      // per-user daily-volume outliers: z-score of each (user, day)
      // event count against that user's own history. The moments are
      // assembled from EXACT integer sums (Σn, Σn², k) so the derived
      // doubles are identical on any engine and any partitioning —
      // stddev_pop's streaming central-moment update would differ in the
      // last ulp and flip the |z| > 2 boundary. Two aggregates + one
      // user-cardinality join; linear at any event volume.
      (s, d) => {
        val daily = Tables.loadEvents(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val stats = daily.groupBy("user_id").agg(
          sum("n").as("s1"), sum(col("n") * col("n")).as("s2"),
          count(lit(1)).as("k"))
        val mu = col("s1").cast("double") / col("k")
        val varr = col("s2").cast("double") / col("k") - mu * mu
        daily.join(stats, "user_id")
          .withColumn("z", round((col("n") - mu) / sqrt(varr), 6))
          .filter(col("s2").cast("double") / col("k") - mu * mu > 0 &&
            abs(col("z")) > 2)
          .select(col("user_id"), col("day"), col("n"), col("z"))
          .orderBy("user_id", "day")
      },
      Some("""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |        CAST(count(*) AS BIGINT) AS n
             |      FROM events GROUP BY 1, 2),
             |st AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS s1,
             |        CAST(sum(n * n) AS BIGINT) AS s2, count(*) AS k
             |       FROM daily GROUP BY 1),
             |z AS (SELECT d.user_id, d.day, d.n,
             |       round((d.n - CAST(s1 AS DOUBLE) / k) /
             |         sqrt(CAST(s2 AS DOUBLE) / k
             |           - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k)), 6) AS z
             |      FROM daily d JOIN st ON st.user_id = d.user_id
             |      WHERE CAST(s2 AS DOUBLE) / k
             |        - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k) > 0)
             |SELECT user_id, day, n, z FROM z WHERE abs(z) > 2
             |ORDER BY user_id, day""".stripMargin)),

    Entry("agg_pivot",
      // status × priority cross-tab via the DataFrame pivot API. The
      // value list is EXPLICIT — value discovery would add a distinct
      // pass and make the output schema data-dependent (non-reproducible
      // across engines); with fixed values the pivot is a single
      // one-shuffle aggregate emitting one CASE-gated count per column.
      (s, d) => {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val names = Seq("p_urgent", "p_high", "p_medium", "p_notspec", "p_low")
        val piv = Tables.load(s, d, "orders")
          .groupBy("o_orderstatus").pivot("o_orderpriority", prios)
          .agg(count(lit(1)))
        prios.zip(names).foldLeft(piv) { case (df, (v, n)) =>
            df.withColumn(n, coalesce(df(s"`$v`"), lit(0L))).drop(v)
          }
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             | CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS p_urgent,
             | CAST(count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS p_high,
             | CAST(count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS p_medium,
             | CAST(count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS p_notspec,
             | CAST(count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS p_low
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    Entry("window_running_total",
      // per-customer running revenue + 3-order moving average: the
      // classic analytic-window family. Partitioned by customer, so the
      // sort is per-partition after one hash shuffle — never a global
      // sort; DECIMAL window sums keep the running values exact and
      // order-independent, and the moving average divides the exact
      // 3-row sum by least(rn, 3) in double only at the end.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val dec = col("o_totalprice").cast("decimal(18,2)")
        Tables.load(s, d, "orders").select(
            col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
            round(sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double"), 6).as("running_total"),
            row_number().over(w).cast("long").as("rn"),
            round(sum(dec).over(w.rowsBetween(-2, 0)).cast("double")
              / least(row_number().over(w), lit(3)), 6).as("avg3"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
             |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS running_total,
             | CAST(row_number() OVER
             |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn,
             | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
             |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |   / least(row_number() OVER
             |       (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 3), 6) AS avg3
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ── cross-format source fidelity (sources/Formats.scala) ─────────
    // Each entry writes a table to a text/columnar format, reads it BACK
    // with the writer's schema, and aggregates what came back; the oracle
    // aggregates the ORIGINAL parquet in DuckDB. A hash match proves the
    // whole codec path — quoting, null sentinels, timestamp formats,
    // type coercion — is lossless, not just that the write succeeded.

    Entry("source_csv_roundtrip",
      // CSV is the adversarial format: schema-less, text-typed, and
      // ambiguous about NULL vs ''. The frame carries three derived
      // columns built to break naive codecs — `tricky` embeds the
      // delimiter, the quote char, and a newline; `maybe_null` is NULL on
      // a key rule; `maybe_empty` is '' on another — and the aggregate
      // reads all three after the round trip. The \N null sentinel +
      // RFC 4180 quoting + multiLine read are the production posture
      // (Formats.scala scaladoc).
      (s, d) => {
        val aug = docs(s, d).select(
          col("doc_id"), col("lang"), col("source"), col("text"), col("n_chars"),
          concat(col("lang"), lit(",\""), substring(col("text"), 1, 20),
            lit("\n"), col("source")).as("tricky"),
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("maybe_null"),
          when(col("doc_id") % 11 === 0, lit("")).otherwise(col("source")).as("maybe_empty"))
        val rt = graft.sources.Formats.roundTrip(
          aug, "csv", scratchDir("source_csv_roundtrip", d) + "/rt")
        rt.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("sum_len"),
            countDistinct(md5(col("tricky"))).as("n_tricky"),
            sum(when(col("maybe_null").isNull, 1L).otherwise(0L)).as("n_nulls"),
            sum(when(col("maybe_empty") === "", 1L).otherwise(0L)).as("n_empty"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             | CAST(sum(length(text)) AS BIGINT) AS sum_len,
             | count(DISTINCT md5(lang || ',"' || substr(text, 1, 20) || chr(10) || source)) AS n_tricky,
             | CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             | CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
             | CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    Entry("source_json_roundtrip",
      // JSON lines: numbers ride Jackson's shortest-round-trip doubles,
      // timestamps the ISO-8601 default (session TZ pinned UTC in both
      // Verify and Bench). The grouped aggregate reads a count, an exact
      // DECIMAL sum, timestamp min/max, and a distinct count back out.
      (s, d) => {
        val rt = graft.sources.Formats.roundTrip(
          Tables.load(s, d, "orders"), "json",
          scratchDir("source_json_roundtrip", d) + "/rt")
        rt.groupBy("o_orderstatus").agg(
            count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("total"),
            min(col("o_orderdate")).cast("timestamp_ntz").as("first_date"),
            max(col("o_orderdate")).cast("timestamp_ntz").as("last_date"),
            countDistinct(col("o_custkey")).as("n_cust"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS total,
             | min(o_orderdate) AS first_date, max(o_orderdate) AS last_date,
             | count(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    Entry("source_orc_roundtrip",
      // ORC: the other columnar format a lake actually contains. Binary
      // round trip of the biggest fixture table, then the classic
      // returnflag/linestatus rollup with exact DECIMAL sums and
      // timestamp bounds over what came back.
      (s, d) => {
        val rt = graft.sources.Formats.roundTrip(
          li(s, d), "orc", scratchDir("source_orc_roundtrip", d) + "/rt")
        rt.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
            count(lit(1)).as("n"),
            round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 6).as("sum_qty"),
            round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 6).as("sum_price"),
            min(col("l_shipdate")).cast("timestamp_ntz").as("first_ship"),
            max(col("l_shipdate")).cast("timestamp_ntz").as("last_ship"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_qty,
             | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_price,
             | min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── entity-resolution (fuzzy) join (ext/FuzzyJoin.scala) ─────────

    Entry("join_fuzzy_md5",
      // blocking-then-verify record linkage, fully replayable: a dirty
      // side derived by deleting one char at a doc_id-keyed position is
      // matched back to the clean titles through 3-gram salted-md5
      // MinHash bands, a clean-side block cap, a levenshtein(≤2) verify,
      // and a best-(dist, clean_id) window select. Every hash crosses
      // engines, so the oracle compares blocking RECALL too, not just
      // verified survivors.
      (s, d) => {
        val clean = docs(s, d).select(col("doc_id"), substring(col("text"), 1, 48).as("s"))
        val dirty = clean.select(col("doc_id"),
          expr("concat(substring(s, 1, CAST(doc_id % 31 + 4 AS INT)), " +
               "substring(s, CAST(doc_id % 31 + 6 AS INT), 64))").as("s"))
        FuzzyJoin.resolve(dirty, clean, "doc_id", "s", FuzzyJoin.md5Buckets,
          maxDist = 2, maxBucket = 64).orderBy("dirty_id")
      },
      Some(Oracles.fuzzyJoinMd5Oracle(maxDist = 2, maxBucket = 64))),

    Entry("join_fuzzy",
      // the production path: same blocking/verify/select machinery with
      // salted-xxhash64 minima and 8-byte long band buckets (key width is
      // the shuffle bill — the substring-gate lesson). Rows-only: the
      // xxhash plane family is engine-internal; the md5 twin above gates
      // the machinery, FuzzyJoinSpec pins this path against a brute-force
      // levenshtein join on planted fixtures.
      (s, d) => {
        val clean = docs(s, d).select(col("doc_id"), substring(col("text"), 1, 48).as("s"))
        val dirty = clean.select(col("doc_id"),
          expr("concat(substring(s, 1, CAST(doc_id % 31 + 4 AS INT)), " +
               "substring(s, CAST(doc_id % 31 + 6 AS INT), 64))").as("s"))
        FuzzyJoin.resolve(dirty, clean, "doc_id", "s", FuzzyJoin.xxBuckets,
          maxDist = 2, maxBucket = 64).orderBy("dirty_id")
      },
      None),

    // ── DSIR importance resampling (ext/Dsir.scala) ──────────────────

    Entry("corpus_dsir_select",
      // the published DSIR data-selection recipe (Xie et al. 2023) end
      // to end: hashed-n-gram importance model fit on the doc_id % 11
      // target slice vs the raw pool, every raw doc weighted by its
      // 9-dp DECIMAL log importance ratio, and a quarter-of-the-pool
      // budget resampled without replacement by DERANDOMIZED
      // Gumbel-top-k (md5-dyadic uniforms). The model broadcasts
      // (≤4096 rows); ranking is the two-phase distributedRank prefix
      // scan, never a one-task window. The oracle replays the whole
      // chain — buckets, both multinomials, log-ratios, decimal sums,
      // Gumbel keys, the full selection permutation — in DuckDB.
      (s, d) => {
        // the scored frame has two consumers (the budget count + the
        // selection) — memoized via dsirScoredCache, whose eviction hook
        // is the release path (ADVICE r11's leak fix, re-done the
        // QueryCache way after the r12 in-body checkpoint+unpersist
        // variant cost 4x inside the timed body — VERDICT r12 #1)
        val scored = dsirScored(s, d)
        Dsir.select(scored, "doc_id", scored.count() / 4).orderBy("doc_id")
      },
      Some(Oracles.dsirSelectOracle)),

    Entry("corpus_dsir_incremental",
      // DSIR model MAINTENANCE: the model state is two additive
      // bucket-count tables (≤4096 rows each), so a delta updates it by
      // per-bucket SUM without re-scanning the pool — the sketch-table
      // discipline applied to data selection. The query rebuilds the
      // raw-side state from a doc_id % 2 split of the pool, merges,
      // fits from the merged state, and compares per-bucket weights
      // against the from-scratch fit: `merge_exact` crosses engines as
      // a column, the weight VALUES as 6-dp doubles.
      (s, d) => {
        val all = docs(s, d)
        val raw = all.filter(col("doc_id") % 11 =!= 0)
        // TWO corpus passes, both landing in ≤4096-row local frames so
        // the fits and the final compare never re-scan the pool and
        // nothing stays persisted past the body (the r12
        // persist+checkpoint variant cost 4x — VERDICT r12 #1; the
        // first fix's FOUR serialized pass-jobs still read 2x target):
        //  pass 1 — one labeled explode yields the target state and the
        //  two raw-half delta states (the maintenance inputs) together;
        //  pass 2 — the from-scratch raw state, computed INDEPENDENTLY
        //  so merge_exact compares two real computation paths, not one
        //  conditional sum split against itself.
        val sliced = localFrame(Dsir.bucketCountsBySlice(all, "doc_id", "text",
          when(col("doc_id") % 11 === 0, lit("t"))
            .when(col("doc_id") % 2 === 0, lit("r0")).otherwise(lit("r1"))))
        def sliceCounts(name: String) =
          sliced.filter(col("slice") === name).select(col("b"), col("cnt"))
        val tc = sliceCounts("t")
        val merged = Dsir.mergeCounts(sliceCounts("r0"), sliceCounts("r1"))
        val full = localFrame(Dsir.bucketCounts(raw, "doc_id", "text"))
        val wFull = Dsir.fitFromCounts(tc, full).weights
        val wMerged = Dsir.fitFromCounts(tc, merged).weights
          .withColumnRenamed("wgt", "wgt_m")
        wFull.join(wMerged, Seq("b"))
          .join(full.select(col("b"), col("cnt").as("cq")), Seq("b"))
          .select(col("b"), col("cq"),
            round(col("wgt"), 6).cast("double").as("wgt"),
            (col("wgt") === col("wgt_m")).cast("int").as("merge_exact"))
          .orderBy("b")
      },
      Some(Oracles.dsirIncrementalOracle)),

    // ── JL sign random projection (ext/RandomProjection.scala) ───────

    Entry("emb_project_rp",
      // Achlioptas ±1 Johnson–Lindenstrauss projection 64 → 16 dims in
      // EXACT integer arithmetic (inputs floor-quantized to 1e-6 first,
      // the sign matrix an md5-derived plan literal) — one map-side
      // zip_with/aggregate pass, zero joins, zero shuffles before the
      // output sort. DuckDB recomputes every sign and every projection
      // value bit-for-bit.
      (s, d) => RandomProjection.project(embs(s, d), "vec_id", "embedding"),
      Some(Oracles.embProjectRpOracle))
  )

  val queries: Map[String, Q] = entries.map(e => e.name -> e.q).toMap
  val oracles: Map[String, String] =
    entries.collect { case Entry(n, _, Some(o)) => n -> o }.toMap
}
