package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Runs one workload, checks its outputs against the ground truth its
  * generator planted, and prints as the LAST stdout line one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. The line
  * before it is a `{"report": ...}` object carrying the workload's own
  * figures under their workload-specific names (cycle_s, batch_s, ...).
  * Exits 1 when an operation or an output check failed.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "cdc_warm" -> CdcWarm.run,
    "ingest_gate" -> IngestGate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, usage(s"unknown workload '$workload'"))
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = need("seconds").toDoubleOption.filter(_ > 0).getOrElse(usage("--seconds must be > 0"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val work = need("work")

    val t0 = System.nanoTime()
    val spark = session(work)
    val ctx = new Ctx(spark, workload, seed, seconds, trace, work, sessionS = (System.nanoTime() - t0) / 1e9)
    val crashed =
      try { body(ctx); None }
      catch { case e: Throwable =>
        e.printStackTrace()
        if (ctx.failed == 0) { ctx.attempted += 1; ctx.failed += 1 }
        Some(e)
      }
    ctx.rec.writeSpans(s"$work/spans.json")
    ctx.report("peak_rss_mb", Ctx.peakRssMb(), "MB")
    ctx.report("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    spark.stop()
    val correct = crashed.isEmpty && ctx.failed == 0
    println(Json.obj(Seq("report" -> Json.obj(ctx.reportItems.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }))))
    // a layer the workload does not run reports zeros, so every traced
    // run prints the full per-layer metric set
    val metrics =
      if (trace) Recorder.AllLayerMetrics.map { case (k, u) => k -> ctx.layerMetrics.getOrElse(k, (0.0, u)) }
      else ctx.e2eMetrics.toSeq
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      s"<${Workloads.keys.toSeq.sorted.mkString("|")}> --seed <n> --seconds <s> --trace <0|1> --work <dir>")
    sys.exit(2)
  }

  /** `local[cores]` with the engine bench's session posture (AQE on, AQE
    * allowed to re-plan exchanges under cached plans). Warehouse and
    * scratch space stay under the work directory.
    */
  private def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
