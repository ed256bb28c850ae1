package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.vectors

/** IVF (inverted-file) approximate-nearest-neighbor index — the
  * centroid-partitioned scale path complementing the hyperplane-LSH
  * variant in [[Similarity]] (SURVEY.md §7.5).
  *
  * Build: k-means over (a sample of) the corpus → each vector assigned to
  * its nearest centroid ("posting list"). Search: score the query against
  * the centroid table (tiny, broadcast), keep the `nprobe` nearest lists,
  * exact-rerank only those lists' vectors with the codegen'd dot kernel.
  *
  * Scale: the corpus is scanned once at build; at query time only
  * corpus_size × nprobe / nlist vectors are touched, and the
  * centroid-assignment table can be written bucketed by `list` so repeated
  * query batches join without a shuffle.
  */
object IvfIndex {
  /** `builtN` = corpus size when the quantizer was trained (−1 unknown,
    * e.g. an index loaded from a pre-manifest layout): the drift baseline
    * for [[health]]'s rebuild policy.
    */
  final case class Index(centroids: Array[(Int, Array[Float])], assigned: DataFrame,
                         builtN: Long = -1L)

  /** Quantizer drift report for a persisted index — see [[health]]. */
  final case class Health(n: Long, nLists: Int, builtN: Long, maxList: Long,
                          meanList: Double, imbalance: Double,
                          needsRebuild: Boolean, reason: String)

  /** Train the coarse quantizer and assign every vector to a list.
    *
    * The quantizer trains on a bounded sample — `trainPerList × nlist`
    * vectors (the standard IVF training budget), selected by a
    * deterministic id-hash stride so the index is reproducible across
    * runs and partitionings. Training k-means on the FULL corpus would be
    * 20 full passes through Spark ML before the index exists — at 100 TB
    * that is the build's entire cost; centroid quality saturates long
    * before that. Only the single assignment pass touches every vector.
    */
  /** Right-sized coarse quantizer for a corpus of `n` vectors: the
    * standard IVF heuristic nlist ≈ √n, clamped to [8, 4096]. At √n lists
    * the per-query probe cost (nprobe·n/nlist) and the centroid-scoring
    * cost (nlist) balance; a fixed tiny nlist probes a constant FRACTION
    * of the corpus (nlist=8/nprobe=2 probed 25% at 200k vectors — a scan
    * in disguise), while √n keeps the probed fraction shrinking as the
    * corpus grows.
    */
  def defaultNlist(n: Long): Int =
    math.max(8, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** DETERMINISTIC axis-sign coarse quantizer — the DuckDB-replayable
    * twin of [[build]] (the [[Dedup.axisCellIndex]] discipline applied
    * to the IVF list space): a vector's list is the SIGN PATTERN of its
    * first `bits` dims, and the centroid table is the 2^bits ±1 sign
    * vectors (zero outside the sign dims). The sign cell IS the nearest
    * of those centroids under the KMeans criterion — |c|² = bits for
    * every centroid, so argmin ‖v−c‖² = argmax v·c, maximized by
    * matching each sign independently — which means [[applyDelta]]'s
    * nearest-EXISTING-centroid delta assignment lands every upsert in
    * its sign cell too, and [[topK]]'s centroid-cosine probe ranking is
    * Σ(±q_i)/(|q|·√bits) — exact doubles both engines compute
    * bit-for-bit. The whole persisted lifecycle (build → write →
    * applyDelta → pruned probe → top-k) becomes SQL-replayable
    * (Catalog `sim_ivf_md5`). Production stays on [[build]]'s trained
    * quantizer; this is oracle gear, exactly like
    * [[Dedup.axisCellNearDups]] vs the hyperplane index. Edge: a dim of
    * exactly 0.0f assigns bit=1 here (>= 0) while applyDelta's distance
    * tie breaks toward the LOWER list — the fixtures' floats are never
    * exactly zero, and the oracle gate would catch it if one were.
    */
  def buildCells(spark: SparkSession, embs: DataFrame, idCol: String,
                 vecCol: String, bits: Int = 6): Index = {
    require(bits >= 1 && bits <= 16, s"bits $bits outside [1,16]")
    val dim = embs.select(size(col(vecCol))).head().getInt(0)
    require(dim >= bits, s"vector dim $dim smaller than sign bits $bits")
    val centroids = Array.tabulate(1 << bits) { p =>
      p -> Array.tabulate(dim)(i =>
        if (i >= bits) 0f else if (((p >> i) & 1) == 1) 1f else -1f)
    }
    val list = (0 until bits).map(i =>
      when(element_at(col(vecCol), i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
    val assigned = embs.select(col(idCol).as("vid"), col(vecCol).as("v"),
      list.cast("int").as("list"))
    Index(centroids, assigned, builtN = embs.count())
  }

  def build(spark: SparkSession, embs: DataFrame, idCol: String, vecCol: String,
            nlist: Int = 0, seed: Long = 42L, trainPerList: Int = 256,
            maxIter: Int = 20, initMode: String = "k-means||"): Index = {
    val featurized = embs.select(col(idCol).as("vid"), col(vecCol).as("v"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val n = featurized.count()
    val k = if (nlist > 0) nlist else defaultNlist(n)
    val target = k.toLong * trainPerList
    val trainSet =
      if (n <= target) featurized
      else featurized.filter(
        pmod(xxhash64(col("vid").cast("string")), lit(math.max(1L, n / target))) === 0)
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setInitMode(initMode).fit(trainSet)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> c.toArray.map(_.toFloat) }
    val assigned = model.transform(featurized)
      .select(col("vid"), col("v"), col("prediction").as("list"))
    Index(centroids, assigned, builtN = n)
  }

  /** Persist the index: posting lists PARTITIONED BY `list` (one
    * directory per list) plus the tiny centroid table. This is the ANN
    * analog of [[Dedup.lshIndex]] — build once when the corpus is
    * committed, probe per query batch — and the layout is what makes the
    * probe cheap at scale: [[topK]]'s join on `list` against the
    * broadcast probe set triggers dynamic partition pruning, so a query
    * batch READS only its probed lists' files (~nprobe/nlist of the
    * corpus), enforced by the directory layout rather than trusted to a
    * post-scan filter.
    */
  def write(idx: Index, path: String): Unit = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    // co-locate each list's rows before the partitioned write: without
    // the repartition every task writes a file into every list directory
    // it touches (tasks × nlist small files); with it, one file per list
    idx.assigned.repartition(col("list")).write.mode("overwrite")
      .partitionBy("list").parquet(s"$path/assigned")
    idx.centroids.toSeq.toDF("list", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    // schema sidecar: a delete-only delta stream can drain EVERY list
    // (applyDelta removes emptied partition dirs), and parquet cannot
    // infer a schema from zero files — this empty frame keeps load()
    // working on a drained index instead of crashing the next applyDelta
    idx.assigned.limit(0).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/schema")
    writeManifest(spark, path,
      if (idx.builtN >= 0) idx.builtN else idx.assigned.count(),
      idx.centroids.length)
  }

  /** Build-time facts the rebuild policy measures drift against; a tiny
    * sidecar file, written whole on every (re)build.
    */
  private def writeManifest(spark: SparkSession, path: String,
                            builtN: Long, nlist: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(s"""{"built_n":$builtN,"nlist":$nlist}""".getBytes("UTF-8"))
    finally os.close()
  }

  private def readManifestN(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      """"built_n"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong).getOrElse(-1L)
    }
  }

  /** Incremental maintenance of a persisted index under CDC — the ANN
    * analog of the row-keyed [[Dedup.lshIndex]] upsert algebra. The
    * delta's NEW vectors are assigned to their nearest EXISTING centroid
    * (the coarse quantizer is stable between planned rebuilds —
    * retraining per delta would re-scan the corpus); the lists that rows
    * currently LIVE in come from the stored index itself — a
    * column-pruned (vid, list) scan probed by a broadcast of the delta's
    * ids, never a re-derived assignment (float re-assignment of a
    * borderline vector could point at the wrong list and strand the
    * stale row). Then only the TOUCHED lists' partitions are rewritten:
    * (their existing rows minus the delta's ids) ∪ (the upserts'
    * assignments), via dynamic partition overwrite, and a touched list
    * whose rows ALL left is deleted explicitly (dynamic overwrite only
    * rewrites partitions present in the output — an emptied list would
    * otherwise keep its stale files).
    *
    * `upserts` carries (id, vector) — inserts and updates alike (the
    * stored copy of an update is located by id and dropped); `deletes`
    * needs only ids. Per-delta cost: one skinny two-column scan of the
    * index (no shuffle — broadcast semi-join; sorted/z-ordered layouts
    * file-skip it) plus a rewrite of the touched lists' rows.
    */
  def applyDelta(spark: SparkSession, path: String, upserts: DataFrame,
                 deletes: DataFrame, idCol: String, vecCol: String): Unit = {
    val idx = load(spark, path)
    import spark.implicits._
    val cents = idx.centroids.toSeq.toDF("list", "centroid")
    // nearest centroid for the delta only: delta × nlist stays
    // delta-bounded. Squared Euclidean (the KMeans criterion):
    // |v|² + |c|² − 2·v·c, minimized; ties broken by list asc.
    val d2 = vectors.float_norm(col("v")) * vectors.float_norm(col("v")) +
      vectors.float_norm(col("centroid")) * vectors.float_norm(col("centroid")) -
      lit(2.0) * vectors.float_dot(col("v"), col("centroid"))
    val w = Window.partitionBy("vid").orderBy(d2.asc, col("list").asc)
    // materialized once — consumed by the touched-list collect AND the
    // output union (an unpersisted plan would re-run per consumer)
    val up = upserts.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("vid"), col("v"), col("list"))
      .localCheckpoint(true)
    val goneIds = upserts.select(col(idCol).as("vid"))
      .unionByName(deletes.select(col(idCol).as("vid"))).distinct()
    // where those ids currently live: the stored truth, by id
    val stored = idx.assigned.select(col("vid"), col("list"))
      .join(broadcast(goneIds), Seq("vid"))
      .localCheckpoint(true)
    val touched = up.select("list").unionByName(stored.select("list")).distinct()
      .collect().map(_.getInt(0))
    if (touched.isEmpty) return
    val existing = idx.assigned.filter(col("list").isin(touched.toSeq: _*))
    val out = existing.join(goneIds, Seq("vid"), "left_anti")
      .select("vid", "v", "list")
      .unionByName(up.select("vid", "v", "list"))
      // sever the lineage from the files about to be overwritten (Spark
      // refuses to overwrite a path it is reading); only touched rows
      // materialize — the incremental claim holds
      .localCheckpoint(true)
    // dynamic overwrite never rewrites a partition absent from `out`, so
    // a touched list whose rows ALL left must be deleted explicitly — and
    // it is deleted BEFORE the overwrite: the emptied lists' removal is
    // independent of the partitions being written, so a crash between the
    // two steps can never leave a stale emptied list whose deleted ids
    // resurface as query neighbors. Crash recovery contract: REPLAY the
    // same applyDelta — the remove-then-add algebra is idempotent over
    // one delta (replayed gone-ids match nothing the second time; the
    // upserts land identically).
    val surviving = out.select("list").distinct().collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(surviving).foreach { l =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/assigned/list=$l"), true)
    }
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      out.repartition(col("list")).write.mode("overwrite")
        .partitionBy("list").parquet(s"$path/assigned")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  /** Load a persisted index. The `assigned` frame reads the partitioned
    * layout lazily — nothing is scanned until a probe runs. An index
    * DRAINED to zero lists (delete-only deltas removed every partition
    * directory) loads as an empty frame via the schema sidecar instead of
    * failing parquet schema inference — so the next [[applyDelta]] can
    * repopulate it.
    */
  def load(spark: SparkSession, path: String): Index = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val drained = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$path/assigned/list=*")) match {
      case null => true
      case dirs => dirs.isEmpty
    }
    val schemaSidecar = new org.apache.hadoop.fs.Path(s"$path/schema")
    val source =
      if (drained && fs.exists(schemaSidecar)) s"$path/schema" // empty, schema-carrying
      else s"$path/assigned" // pre-sidecar layouts keep the old failure mode
    val assigned = spark.read.parquet(source)
      .select(col("vid"), col("v"), col("list").cast("int").as("list"))
    Index(centroids, assigned, builtN = readManifestN(spark, path))
  }

  /** Quantizer drift check — the rebuild policy [[applyDelta]] itself
    * deliberately lacks (per-delta retraining would re-scan the corpus).
    * Two signals, both cheap (one skinny `list` column scan, ≤ nlist
    * groups collected):
    *
    *  - GROWTH: the corpus reached `growthThreshold` × the size the
    *    quantizer was trained at. nlist should track √n, so a doubled
    *    corpus means every probe reranks ~2× the vectors per list and
    *    recall decays as lists blur — the standard "rebuild when the
    *    corpus doubles" IVF cadence.
    *  - IMBALANCE: max/mean list size past `imbalanceThreshold`. Under
    *    drifting ingest new vectors pile into few lists; those lists
    *    dominate probe cost and their centroids stop describing their
    *    contents.
    */
  def health(spark: SparkSession, path: String,
             imbalanceThreshold: Double = 4.0,
             growthThreshold: Double = 2.0): Health = {
    val idx = load(spark, path)
    val sizes = idx.assigned.groupBy("list").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)) // bounded: ≤ nlist rows
    val n = sizes.map(_._2).sum
    val nLists = idx.centroids.length
    val meanList = if (nLists > 0) n.toDouble / nLists else 0.0
    val maxList = if (sizes.isEmpty) 0L else sizes.map(_._2).max
    val imbalance = if (meanList > 0) maxList / meanList else 0.0
    val (needs, reason) =
      if (idx.builtN > 0 && n >= growthThreshold * idx.builtN)
        (true, f"corpus grew ${n.toDouble / idx.builtN}%.1fx since quantizer build")
      else if (imbalance > imbalanceThreshold)
        (true, f"list imbalance max/mean = $imbalance%.1f")
      else (false, "healthy")
    Health(n, nLists, idx.builtN, maxList, meanList, imbalance, needs, reason)
  }

  /** Retrain the coarse quantizer from the STORED vectors and replace the
    * layout — the planned rebuild [[applyDelta]]'s header promises. The
    * whole fresh index is staged beside `path` and lands as one
    * [[graft.core.Commit.swap]], so a crash at any step leaves the old
    * index or the new one whole once [[graft.core.Commit.recover]] runs on
    * the parent directory (this call runs it first). `path` must be local,
    * and one rebuild runs per parent directory at a time: the parent holds
    * the one staging directory, as a changelog root does for its
    * compaction.
    */
  def rebuild(spark: SparkSession, path: String, nlist: Int = 0,
              seed: Long = 42L): Unit = {
    val (parent, name) = stageRebuild(spark, path, nlist, seed)
    graft.core.Commit.swap(parent, Seq(name), name)
  }

  /** [[rebuild]] up to its swap: the fresh index written to the parent's
    * staging directory. Returns the parent and the index's name in it.
    */
  private[ext] def stageRebuild(spark: SparkSession, path: String, nlist: Int,
                                seed: Long): (String, String) = {
    val p = graft.core.Commit.local(path).toAbsolutePath
    val parent = p.getParent.toString
    graft.core.Commit.recover(parent)
    val idx = load(spark, path)
    write(build(spark, idx.assigned.select(col("vid"), col("v")), "vid", "v", nlist, seed),
      graft.core.Commit.staging(parent))
    (parent, p.getFileName.toString)
  }

  /** Health-gated maintenance — the cadence hook (run it where
    * [[graft.core.Runner.maintain]] runs table upkeep): finish or undo a
    * rebuild cut short, measure drift, rebuild only when the policy says
    * so. Returns the PRE-rebuild health so callers can log what triggered.
    */
  def maintain(spark: SparkSession, path: String,
               imbalanceThreshold: Double = 4.0, growthThreshold: Double = 2.0,
               nlist: Int = 0, seed: Long = 42L): Health = {
    graft.core.Commit.recover(graft.core.Commit.local(path).toAbsolutePath.getParent.toString)
    val h = health(spark, path, imbalanceThreshold, growthThreshold)
    if (h.needsRebuild) rebuild(spark, path, nlist, seed)
    h
  }

  /** ANN top-k through the index: probe the `nprobe` nearest posting lists
    * per query, exact cosine rerank inside them.
    *
    * `pruneScan = true` is the persisted-index fast path: the distinct
    * probed list ids (at most `nlist` ints — bounded like the capped
    * hot-key collect in [[graft.core.Skew]]) come back to the driver and
    * become a STATIC `IN` filter on the partition column, so a
    * [[load]]-ed layout reads only the probed lists' directories. This
    * is deliberate two-phase planning: Spark's dynamic partition pruning
    * declined this join shape (`dynamicpruningexpression(true)` — the
    * heuristic sees a broadcast exchange it cannot reuse for the
    * subquery), and a bounded driver round-trip of list IDS (never
    * vectors) buys plan-time file pruning that holds at any corpus size.
    */
  def topK(spark: SparkSession, index: Index, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, nprobe: Int, pruneScan: Boolean = false): DataFrame = {
    import spark.implicits._
    val cents = index.centroids.toSeq.toDF("list", "centroid")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      vectors.float_norm(col(vecCol)).as("qn"))
    // nearest nprobe centroids per query (centroid table is tiny); ties
    // break toward the lower list id so the probe set is deterministic
    // (KMeans centroids never tie in practice; the sign-cell quantizer's
    // oracle replays the same ordering)
    val wc = Window.partitionBy("qid").orderBy(
      (vectors.float_dot(col("qv"), col("centroid")) /
        (col("qn") * vectors.float_norm(col("centroid")))).desc, col("list").asc)
    val probes0 = q.crossJoin(broadcast(cents))
      .withColumn("__cr", row_number().over(wc))
      .filter(col("__cr") <= nprobe)
      .select(col("qid"), col("qv"), col("qn"), col("list"))
    // pruneScan consumes the probe set twice (the prune-list collect AND
    // the rerank join): materialize it once, so a nondeterministic query
    // frame cannot produce a prune set that disagrees with the join side
    val probes = if (pruneScan) probes0.localCheckpoint(true) else probes0
    val assigned =
      if (!pruneScan) index.assigned
      else {
        val lists = probes.select("list").distinct().collect().map(_.getInt(0))
        if (lists.isEmpty) index.assigned.filter(lit(false))
        else index.assigned.filter(col("list").isin(lists.toSeq: _*))
      }
    // rerank within the probed lists only
    val scored = assigned.join(broadcast(probes), Seq("list"))
      .filter(col("qid") =!= col("vid"))
      .withColumn("cos", vectors.float_dot(col("qv"), col("v")) /
        (col("qn") * vectors.float_norm(col("v"))))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vid"), round(col("cos"), 6).as("cosim"), col("rk"))
  }
}
