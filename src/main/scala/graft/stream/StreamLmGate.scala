package graft.stream

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextLm

/** Streaming ingest-time QUALITY gate (the CCNet filter as a gate, not a
  * batch job): a bigram LM trained once on a curated seed corpus is
  * persisted as plain parquet state; every ingest micro-batch is scored
  * against it and admitted/rejected by surprisal threshold, versioned by
  * the scoring batch. Completes the gate family: [[StreamNearDup]] keeps
  * duplicates out, [[StreamVecDup]] keeps embedding near-dups out, this
  * keeps low-fluency text out.
  *
  * State layout under `stateDir`:
  * {{{
  *   lm/c12/      pair counts   (w1, w2, c12) — vocabulary-sized
  *   lm/c1/       left marginals (w1, c1)
  *   lm/meta/     one row: vocabulary size V
  *   scores/batch=N/  (id, n_bigrams, avg_nll, admitted) per scored batch
  * }}}
  *
  * Scale shape: the LM is trained ONCE (seed-time) and never rescanned —
  * batches join against the persisted vocabulary-sized tables
  * (shuffle_hash: the batch side explodes to bigrams, the LM side is
  * bounded). Scoring cost per batch ∝ batch tokens. The per-batch
  * partition overwrite makes replays idempotent — a crash-redelivered
  * batch rewrites exactly its own `scores/batch=N` partition through the
  * dedup gates' versioned write ([[IngestState.writeVersion]]). The LM
  * being static is CCNet-faithful: quality reference corpora are
  * curated, not self-reinforcing — admitting scored docs into the model
  * would drift the filter toward whatever passes it.
  */
object StreamLmGate {
  final case class Params(idCol: String = "doc_id", textCol: String = "text",
                          // docs whose mean -ln P(w2|w1) exceeds
                          // TextLm.Lm.ceiling(maxAvgNllFrac) are rejected;
                          // strictly below 1, so pure noise is rejected
                          maxAvgNllFrac: Double = 0.98)

  /** Train the gate LM on the curated seed corpus and persist it. */
  def seed(refDocs: DataFrame, stateDir: String, p: Params = Params()): Unit = {
    val spark = refDocs.sparkSession
    val lm = TextLm.train(refDocs, p.idCol, p.textCol)
    lm.c12.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/lm/c12")
    lm.c1.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/lm/c1")
    import spark.implicits._
    Seq(lm.v).toDF("v").write.mode(SaveMode.Overwrite).parquet(s"$stateDir/lm/meta")
  }

  private def loadLm(spark: SparkSession, stateDir: String): TextLm.Lm =
    TextLm.Lm(
      spark.read.parquet(s"$stateDir/lm/c12"),
      spark.read.parquet(s"$stateDir/lm/c1"),
      spark.read.parquet(s"$stateDir/lm/meta").head().getLong(0))

  /** Score one micro-batch against the persisted LM and record the
    * admission decision under `scores/batch=version` (the gates'
    * versioned overwrite ⇒ replay-idempotent).
    */
  def processBatch(batch: DataFrame, stateDir: String, version: Long,
                   p: Params = Params()): Unit = {
    val spark = batch.sparkSession
    val lm = loadLm(spark, stateDir)
    IngestState.writeVersion(TextLm.scoreWith(lm, batch, p.idCol, p.textCol)
      .withColumn("admitted",
        (col("avg_nll") <= lit(lm.ceiling(p.maxAvgNllFrac))).cast("int")),
      s"$stateDir/scores", version)
  }

  /** All admission decisions so far: (id, n_bigrams, avg_nll, admitted,
    * batch).
    */
  def scores(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/scores")
}
