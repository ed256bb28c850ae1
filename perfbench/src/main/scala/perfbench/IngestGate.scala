package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.IngestPipeline
import Recorder.LayerOp

/** `ingest_gate`: the three-wave ingest gate chain (`waveFates`: LM gate,
  * exact dedup, winnowed substring dedup) in production xxhash mode, with
  * planted clones, as the engine's `corpus_ingest_e2e_xx` query runs it.
  * Every wave probes admitted state that keeps growing, the streaming
  * similarity-join setting.
  *
  * The corpus has the shape of the `documents` fixture (10 to 99 words
  * from a 30-word vocabulary; 5% of documents are near-duplicates of an
  * earlier one, marked `dup`), generated from the seed, then replicated
  * as the engine's ScaledFixtures does: replica 0 verbatim, replica r
  * with every word w rewritten to md5(w|r)[0:14], so replicas share no
  * words and duplicate structure stays per replica.
  */
object IngestGate {
  val BaseDocs = 500
  val Replicas = 10
  val IdStride = 10000000L
  val Waves = 3
  /** Clone ids: a multiple of the wave count, so a clone lands in its
    * original's wave with a larger id (exact keep-first rejects it), or,
    * for a seed-wave original, one wave later (its text is admitted state).
    */
  val CloneOffset = 3000000000L
  val EarlierStages = Set("lm_short", "lm", "exact")
  private val Vocab = ("join hash row batch scan column customer filter small slow merge order " +
    "vector line table data agg value key stream window a spark part group big sort query " +
    "fast the").split(" ")

  def baseDocs(seed: Long): Seq[(Long, String)] = {
    val rng = new java.util.Random(seed * 1000003L + 29)
    val docs = mutable.ArrayBuffer.empty[Array[String]]
    for (_ <- 0 until BaseDocs) {
      docs += (if (docs.nonEmpty && rng.nextDouble() < 0.05) {
        val src = docs(rng.nextInt(docs.size)).clone()
        (0 until src.length / 10).foreach(_ => src(rng.nextInt(src.length)) = Vocab(rng.nextInt(Vocab.length)))
        src :+ "dup"
      } else Array.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))))
    }
    docs.zipWithIndex.map { case (w, i) => i.toLong -> w.mkString(" ") }.toSeq
  }

  /** The replicated corpus plus clones of every doc with id % 17 == 3. */
  def corpus(spark: SparkSession, seed: Long, replicas: Int): DataFrame = {
    import spark.implicits._
    val base = baseDocs(seed).toDF("doc_id", "text")
    val docs = base.crossJoin(spark.range(replicas).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(IdStride)).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat_ws(" ", transform(split(col("text"), " "),
            w => substring(md5(concat(w, lit("|"), col("rep").cast("string")).cast("binary")), 1, 14))))
          .as("text"))
    val clones = docs.filter(col("doc_id") % 17 === 3)
      .withColumn("doc_id", col("doc_id") + lit(CloneOffset) +
        when(pmod(col("doc_id"), lit(Waves.toLong)) === 0, lit(1L)).otherwise(lit(0L)))
    docs.unionByName(clones)
  }

  def gate(docs: DataFrame): DataFrame =
    IngestPipeline.waveFates(docs, "doc_id", "text", nWaves = Waves, maxAvgNllFrac = 1.0,
      L = 40, w = 8, minShared = 2, md5Mode = false)

  /** Fate counts by reason, after checking every document got exactly one
    * fate and every planted clone was rejected at the exact stage or before.
    */
  def checkFates(ctx: Ctx, docs: DataFrame, fates: DataFrame, at: String): Map[String, Long] = {
    val decided = docs.filter(pmod(col("doc_id"), lit(Waves.toLong)) =!= 0).select("doc_id")
    ctx.checkEq(s"$at: every document gets exactly one fate")(
      Ctx.checksum(fates.select("doc_id"), Seq("doc_id")), Ctx.checksum(decided, Seq("doc_id")))
    ctx.checkEq(s"$at: every document gets exactly one fate (distinct ids)")(
      fates.select("doc_id").distinct().count(), fates.count())
    val cloneFates = fates.filter(col("doc_id") >= CloneOffset)
      .groupBy("admitted", "reason").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    ctx.check(s"$at: every planted clone is rejected as exact or earlier") {
      val bad = cloneFates.filterNot { case ((adm, reason), _) => adm == 0 && EarlierStages(reason) }
      if (bad.nonEmpty) System.err.println(s"[perfbench] $at: clone fates $cloneFates")
      bad.isEmpty && cloneFates.nonEmpty
    }
    fates.groupBy("reason").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  final case class GateRun(op: String, traced: Boolean, wallS: Double, cpuS: Double,
                           stages: Long, decided: Long, admitted: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // ---- set-up: corpus generation, three times, median
    val gens = (1 to 3).map { r =>
      val dir = ctx.dir("gate", s"gen$r")
      val t0 = System.nanoTime()
      corpus(spark, ctx.seed, Replicas).repartition(ctx.cores, col("doc_id"))
        .write.mode("overwrite").parquet(dir)
      (dir, Ctx.seconds(t0))
    }
    gens.init.foreach(g => Ctx.rmrf(g._1))
    val docs = spark.read.parquet(gens.last._1)
    val genS = Ctx.median(gens.map(_._2))
    val counts = mutable.ArrayBuffer.empty[Map[String, Long]]
    def gateRun(op: String): GateRun = {
      val out = ctx.dir("gate", "fates", op)
      val (_, cost) = ctx.measure(
        ctx.op(ctx.rec.call("gate", op, 0L, op)(gate(docs).write.mode("overwrite").parquet(out))))
      val c = checkFates(ctx, docs, spark.read.parquet(out), s"gate run $op")
      Ctx.rmrf(out)
      counts += c
      GateRun(op, ctx.rec.isTracing, cost.wallS, cost.cpuS, cost.stages, c.values.sum, c.getOrElse("ok", 0L))
    }
    // the first gate run in a JVM also compiles every kernel
    val first = gateRun("first")

    // ---- materialized gate runs for the run's seconds. A traced run runs
    // one untraced gate run, then a traced one: the difference is the
    // tracing overhead.
    val runs = mutable.ArrayBuffer.empty[GateRun]
    val start = System.nanoTime()
    while (runs.size < (if (ctx.trace) 2 else 1) || Ctx.seconds(start) < ctx.seconds) {
      ctx.rec.setTracing(ctx.trace && runs.nonEmpty)
      runs += gateRun(s"g${runs.size}")
    }
    ctx.rec.setTracing(false)
    ctx.check("fate counts are identical across gate runs of one seed") {
      if (counts.distinct.size != 1) System.err.println(s"[perfbench] fate counts: $counts")
      counts.distinct.size == 1
    }

    val plain = runs.filterNot(_.traced).toSeq
    val gateS = Ctx.median(plain.map(_.wallS))
    val gateCpuS = Ctx.median(plain.map(_.cpuS))
    val docsPerS = plain.head.decided / gateS
    val setupS = ctx.sessionS + genS
    val gateStages = Ctx.median(plain.map(_.stages.toDouble))
    ctx.e2e("setup_s", setupS, "s")
    ctx.e2e("op_stages", gateStages, "count")
    Seq("setup_s" -> (setupS, "s"), "session_s" -> (ctx.sessionS, "s"),
      "generate_s" -> (genS, "s"), "first_gate_s" -> (first.wallS, "s"),
      "first_gate_cpu_s" -> (first.cpuS, "s"), "gate_s" -> (gateS, "s"),
      "gate_cpu_s" -> (gateCpuS, "s"), "gate_stages" -> (gateStages, "count"),
      "gate_runs" -> (plain.size.toDouble, "count"),
      "docs_per_s" -> (docsPerS, "1/s"),
      "docs_decided" -> (plain.head.decided.toDouble, "count"),
      "admit_frac" -> (plain.head.admitted.toDouble / plain.head.decided, "ratio"))
      .foreach { case (k, (x, unit)) => ctx.report(k, x, unit) }

    if (ctx.trace) {
      val traced = runs.filter(_.traced).toSeq
      Recorder.reportLayer(ctx, "gate", traced.map(r => LayerOp(r.wallS, Seq(s"pb|gate|${r.op}"))))
      ctx.layer("gate.admit_frac", traced.head.admitted.toDouble / traced.head.decided, "ratio")
      ctx.layer("trace_overhead_frac", Ctx.median(traced.map(_.wallS)) / gateS - 1, "ratio")
    }
  }
}
