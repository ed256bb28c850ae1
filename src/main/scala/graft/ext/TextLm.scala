package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring (extension beyond reference
  * parity, SURVEY.md §7.5): the CCNet-style corpus filter — train a
  * small smoothed bigram LM on a held-out reference slice, score every
  * other document by mean negative log-likelihood per bigram, and keep
  * the fluent tail. The classic public recipe (CCNet, Wenzek et al.
  * 2020) uses a KenLM 5-gram; the bigram-with-add-k form here keeps the
  * same pipeline shape — train slice → probability table → per-token
  * join → per-doc aggregate — while staying exactly replayable in a
  * second engine (the DuckDB oracle for `text_lm_score`).
  *
  * Scale shape (the part that matters at 100 TB):
  *  - the LM table is vocabulary-sized, not corpus-sized: two aggregates
  *    over the (fixed-size) reference slice. Its conditional
  *    probabilities are precomputed ONCE; scoring is a join, not a
  *    recomputation.
  *  - scoring joins are hinted shuffle_hash: the corpus-bigram side is
  *    huge and append-only, the LM side is bounded — a sort-merge sort
  *    of the corpus side would dominate; a broadcast works until the
  *    vocabulary outgrows the driver (a production 5-gram table does,
  *    so the hint is the honest default).
  *  - per-bigram surprisal terms are rounded to 9 dp and summed as
  *    DECIMAL(28,9): addition is exact and order-independent, so the
  *    distributed per-doc sum is bit-reproducible on any engine and any
  *    partitioning — same discipline as [[Bm25]]'s score sums.
  *  - the vocabulary size V is a single driver scalar (one count), the
  *    only `collect`-shaped value in the pipeline.
  */
object TextLm {
  /** Smoothing pseudo-count (add-k). */
  val K: Double = 0.5

  /** A trained model: pair counts, left-marginals, vocabulary size.
    * `c12`/`c1` are vocabulary-sized DataFrames (persistable as plain
    * parquet — what the streaming gate does); `v` is the one driver
    * scalar of the pipeline.
    */
  final case class Lm(c12: DataFrame, c1: DataFrame, v: Long) {
    /** The admission ceiling on `avg_nll`: `frac · ln(V)`, where ln(V) is
      * the surprisal of an unseen bigram. Scale-free — ln(V) tracks the
      * vocabulary, so one fraction means the same thing on a 31-word
      * fixture and a 10M-word web corpus; a `frac` strictly below 1
      * rejects an all-unseen document.
      */
    def ceiling(frac: Double): Double = frac * math.log(v.toDouble)
  }

  /** Bigrams of every doc: (id, w1, w2), one row per adjacent pair. */
  def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(Dedup.wordShingles(col(textCol), 2)).as("sh"))
      .withColumn("w1", substring_index(col("sh"), " ", 1))
      .withColumn("w2", substring_index(col("sh"), " ", -1))
      .drop("sh")

  /** Train on a reference corpus: one shuffle for the pair counts, the
    * marginal and vocabulary fold from the (already vocabulary-sized)
    * pair table.
    */
  /** Bounded cache for the pair table — one live model per JVM, the
    * previous train's cache released on the next train ([[CacheSlot]]).
    * CONTRACT (ADVICE r13): trains are sequential-consume — a later
    * train's swap unpersists the previous model's still-lazily-referenced
    * frame (correct via recompute), and swap is not atomic under
    * concurrent callers; queries run serially today.
    */
  private val c12Slot = new CacheSlot

  def train(refDocs: DataFrame, idCol: String, textCol: String): Lm = {
    // the pair table is the ONLY corpus-pass product; persist it so the
    // marginal, the vocabulary count, and the scoring join all read the
    // vocabulary-sized cache instead of re-exploding the reference slice
    // (plan-audited r7: unpersisted, V and c1 each rescanned the slice)
    val c12 = c12Slot.swap(bigrams(refDocs, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    // V = distinct vocabulary of the slice, derived from the pair table:
    // every token of every ≥2-token doc appears in some bigram (either
    // side), so vocab(c12.w1 ∪ c12.w2) IS the slice vocabulary — no
    // second corpus pass
    val v = c12.select(col("w1").as("w")).union(c12.select(col("w2").as("w")))
      .agg(countDistinct("w")).head().getLong(0)
    Lm(c12, c1, v)
  }

  /** Score `docs` under a trained model: (id, n_bigrams, avg_nll). */
  def scoreWith(lm: Lm, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = bigrams(docs, idCol, textCol)
      .join(lm.c12.hint("shuffle_hash"), Seq("w1", "w2"), "left_outer")
      .join(lm.c1.hint("shuffle_hash"), Seq("w1"), "left_outer")
      .withColumn("nll",
        round(-log((coalesce(col("c12"), lit(0L)) + lit(K)) /
          (coalesce(col("c1"), lit(0L)) + lit(K) * lit(lm.v.toDouble))), 9)
          .cast("decimal(28,9)"))
    scored.groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("sum_nll"))
      .select(col(idCol), col("n_bigrams"),
        round(col("sum_nll").cast("double") / col("n_bigrams"), 6).as("avg_nll"))
  }

  /** Per-document LM score over `docs`: bigrams of the slice selected by
    * `lmSlice` train the model; every document NOT in the slice gets
    * (doc_id, n_bigrams, avg_nll) where avg_nll is the mean
    * -ln P(w2|w1) under add-k smoothing:
    * P(w2|w1) = (c(w1,w2) + K) / (c(w1,·) + K·V).
    * Documents with fewer than 2 tokens have no bigrams and are absent —
    * the caller decides their fate (CCNet drops them too).
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                lmSlice: org.apache.spark.sql.Column): DataFrame = {
    val lm = train(docs.filter(lmSlice), idCol, textCol)
    scoreWith(lm, docs.filter(!lmSlice), idCol, textCol)
  }
}
