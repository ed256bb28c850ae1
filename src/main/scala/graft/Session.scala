package graft

import org.apache.spark.sql.SparkSession

/** The one engine posture every entry point runs (Bench, Verify, the
  * tools, the test session): a bench number, a Verify hash and a scale
  * ratio are only comparable when they come from the same engine.
  */
object Session {
  /** Local task slots: `SPARK_GRAFT_CPUS`, else the machine's core count. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The configured builder; callers that need a core conf on top (a
    * shuffle writer pin, a warehouse dir) add it before `getOrCreate`.
    */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    // let AQE re-plan exchanges that sit UNDER a cached plan: the
    // Fixture frames are persisted, and with this off (the default)
    // every downstream shuffle inherits the cached plan's partition
    // count verbatim — which is how r7's global 128-partition posture
    // taxed the whole CDC family 4-10× (VERDICT r7 #1)
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet may store TIMESTAMP(NANOS); read as long + convert
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // write timestamps as µs (not INT96) so the DuckDB compare sees
    // the same logical type it produces itself
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")

  /** Oracle-gear (md5 / all-positions-audit) twins whose production
    * siblings already pay full scaled-corpus price in the same bench:
    * these run at the raw fixture scale. Kept deliberately short — every
    * name here loses scaled-corpus continuity with rounds ≤ 11.
    */
  private[graft] val ReducedScale = Set(
    "dedup_substring_exact",       // all-positions oracled audit; winnowed = scale path
    "dedup_substring_gate",        // md5 oracle mode; _xx production mode stays scaled
    "dedup_substring_winnowed_md5",// md5 twin; dedup_substring_winnowed stays scaled
    "corpus_ingest_e2e")           // md5 3-wave replay; _xx production stays scaled

  /** The scaled documents/embeddings corpus for `sfDir` (materialized
    * once, outside any timing), or `sfDir` itself when scaling fails.
    */
  def scaledFixtures(spark: SparkSession, sfDir: String, tag: String): String =
    try graft.queries.ScaledFixtures.ensure(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[$tag] fixture scaling failed, using raw: ${e.getMessage}")
      sfDir
    }

  /** Whether `name` runs on the raw fixtures although a scaled corpus exists. */
  def reduced(name: String, sfDir: String, scaledDir: String): Boolean =
    ReducedScale.contains(name) && scaledDir != sfDir

  /** The query's input dir, with the per-family partition posture set:
    * the 10×-scaled doc corpus needs 128 initial partitions so the
    * gram-index shuffles fit execution memory (r7 sf0.1 OOM at 32),
    * but 128 applied globally ran the 600k-row CDC family in 128
    * tiny tasks (4-10× the honest medians — VERDICT r7 #1). AQE
    * coalesces the wide start back down where exchanges are small,
    * and at 100 TB this is the real posture anyway: partition count
    * sized by the data the family actually touches. Call before EVERY
    * run — the posture must travel with the query, not with loop order.
    */
  def postureFor(spark: SparkSession, name: String, sfDir: String, scaledDir: String): String = {
    val scaled = !reduced(name, sfDir, scaledDir) && graft.queries.ScaledFixtures.appliesTo(name)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      if (scaled) "128" else spark.conf.get("spark.sql.shuffle.partitions"))
    if (scaled) scaledDir else sfDir
  }
}
