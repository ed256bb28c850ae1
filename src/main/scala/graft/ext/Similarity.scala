package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.vectors

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — extension beyond reference parity (SURVEY.md §7.5).
  *
  * Two paths: brute-force cosine top-k (baseline, exact; query side
  * broadcast so the corpus never shuffles) and random-hyperplane LSH
  * bucketing (the scale path: bucket key is computed map-side, the
  * candidate join shuffles only within buckets).
  *
  * Vector math uses the codegen'd catalyst expressions in
  * [[graft.functions.vectors]] (a native loop inside whole-stage codegen);
  * the earlier `zip_with`/`aggregate` higher-order form ran interpreted
  * (CodegenFallback) and was ~10× slower on the pairwise hot path. Norms
  * are computed once per row, not once per pair.
  */
object Similarity {
  def dot(a: Column, b: Column): Column = vectors.float_dot(a, b)

  def cosine(a: Column, b: Column): Column = vectors.float_cosine(a, b)

  /** Exact top-k by cosine for each query vector. `queries` must be small
    * (it is broadcast); the corpus side is scanned once, no shuffle until
    * the final per-query top-k (a window over qid, k rows each).
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      vectors.float_norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("cv"),
      vectors.float_norm(col(vecCol)).as("cn"))
    val scored = c.join(q, col("qid") =!= col("vid"))
      .withColumn("cos", vectors.float_dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vid"), round(col("cos"), 6).as("cosim"), col("rk"))
  }

  /** [[bruteTopK]] with the rerank running through the custom
    * [[graft.plans.TopK]] bounded-heap operator instead of a window sort:
    * same results (same oracle), O(n log k) and fixed memory per group
    * instead of a full per-partition sort — the form that scales to a
    * 100 TB corpus rerank. The rank column is recomputed on the k×queries
    * result, which is tiny by construction.
    */
  def bruteTopKNative(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      vectors.float_norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("cv"),
      vectors.float_norm(col(vecCol)).as("cn"))
    val scored = c.join(q, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (vectors.float_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val top = graft.plans.TopK.perGroup(scored, Seq("qid"),
      Seq(("cos", false), ("vid", true)), k)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    top.withColumn("rk", row_number().over(w))
      .select(col("qid"), col("vid"), round(col("cos"), 6).as("cosim"), col("rk"))
  }

  /** recall@k of an ANN result against the exact result: per query, the
    * fraction of the true top-k the approximate search recovered. Both
    * inputs are (qid, vid, ...) frames of ≤ k rows per qid. Declared as a
    * recurring query so ANN quality is tracked round-over-round in the
    * CORRECTNESS/BENCH artifacts, not only in specs — a recall regression
    * (bad plane count, broken quantizer) shows up as a changed result.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    // distinct on both sides: a duplicated (qid, vid) in the approx
    // result must not fan the join out and report recall > 1; dividing by
    // the per-query exact count (not the constant k) keeps queries with
    // fewer than k true neighbors scoring 1.0 when fully recovered
    val ex = exact.select(col("qid"), col("vid")).distinct()
    val ap = approx.select(col("qid"), col("vid")).distinct()
    ex.join(ap.withColumn("__hit", lit(1)), Seq("qid", "vid"), "left_outer")
      .groupBy(col("qid"))
      .agg(round(sum(coalesce(col("__hit"), lit(0))) / count(lit(1)), 6)
        .as(s"recall_at_$k"))
  }

  /** Deterministic AXIS-SIGN plane family for the LSH oracle twin: band
    * `band`, bit `p` is the sign of dimension `band*planes + p` — the
    * `Dedup.CellBands` sign-cell discipline's third application (after
    * the IVF coarse quantizer and the embedding near-dup cells). Same
    * banded-LSH algebra as the xxhash planes (each axis IS a valid
    * hyperplane), but replayable in DuckDB (`band = i/planes`,
    * `bit = i%planes` over the unnested vector). Composed from builtin
    * comparisons, so it stays inside whole-stage codegen map-side.
    */
  def axisBucketBand(vec: Column, planes: Int, band: Int): Column =
    (0 until planes).map { p =>
      when(element_at(vec, band * planes + p + 1) >= lit(0f), lit(1 << p))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** ANN top-k via BANDED hyperplane LSH: a corpus vector is a candidate
    * when ANY of `bands` independent `planes`-bit signatures matches the
    * query's, then exact cosine reranks. Recall = 1-(1-p^planes)^bands
    * (p = 1-θ/π per plane): bands buy recall, planes bound the per-band
    * bucket (2^planes buckets → ~n/2^planes candidates per band per
    * query). `bands = 1` is the classic single-table probe. The corpus
    * side stays one map-side pass (bands×planes sign tests, no shuffle of
    * vectors — candidates join against the broadcast query table).
    *
    * `bucketFn(vec, planes, band)` picks the plane family: the default
    * xxhash64-derived ±1 hyperplanes (production — data-independent,
    * works for any vector distribution), or [[axisBucketBand]] (the
    * deterministic oracle twin — same candidate-join/dedup/rerank
    * machinery, DuckDB-replayable buckets).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 6, bands: Int = 1,
              bucketFn: (Column, Int, Int) => Column =
                vectors.hyperplane_bucket_band): DataFrame = {
    def withBuckets(df: DataFrame, id: String, v: String, n: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        vectors.float_norm(col(vecCol)).as(n),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            bucketFn(col(vecCol), planes, b).as("bucket"))): _*))
          .as("bb"))
        .select(col(id), col(v), col(n), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
    val bq = broadcast(withBuckets(queries, "qid", "qv", "qn"))
    val c = withBuckets(corpus, "vid", "cv", "cn")
    // cosine computed BEFORE the dedup so the distinct shuffles only
    // (qid, vid, cos) — never the vectors; a pair colliding in several
    // bands costs a repeated map-side dot, not an array-wide shuffle row
    val scored = c.join(bq, Seq("band", "bucket"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (vectors.float_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .distinct()
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vid"), round(col("cos"), 6).as("cosim"), col("rk"))
  }
}
