package graft.tools

import graft.observe.StageMetrics

/** Per-STAGE profiler for declared queries (optimization-round dev tool;
  * the driver uses graft.Bench). Runs each named query under the exact
  * Bench session posture and prints, per stage: wall duration, summed
  * task time, GC, shuffle read/write bytes, records, spill, and the
  * first line of the stage's callsite — the evidence §1 of the
  * optimization guide asks for before touching an operator.
  *
  *   sbt "runMain graft.tools.StageProf <query> [query ...]"
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProf <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder(graft.Session.cores).getOrCreate()
    val scaledDir = graft.Session.scaledFixtures(spark, sfDir, "stageprof")
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[stageprof] unknown query: $name")
        case Some(fn) =>
          val dir = graft.Session.postureFor(spark, name, sfDir, scaledDir)
          val (wall, m) = StageMetrics.measure(spark) {
            val t0 = System.nanoTime()
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"%n== $name: $wall%.2f s, ${m.stages.size} stages (by task time) ==")
          println(f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"gc_s"}%6s ${"in_MB"}%8s " +
            f"${"sh_rd_MB"}%9s ${"sh_wr_MB"}%9s ${"rd_rec"}%10s ${"wr_rec"}%10s " +
            f"${"spill_MB"}%9s ${"tasks"}%5s  name")
          m.stages.sortBy(-_.taskMs).take(30).foreach { a =>
            println(f"${a.id}%6d ${a.wallMs / 1e3}%8.2f ${a.taskMs / 1e3}%8.2f " +
              f"${a.gcMs / 1e3}%6.1f ${a.inputBytes / 1e6}%8.1f ${a.shuffleReadBytes / 1e6}%9.1f " +
              f"${a.shuffleWriteBytes / 1e6}%9.1f ${a.shuffleReadRecords}%10d ${a.shuffleWriteRecords}%10d " +
              f"${a.spillBytes / 1e6}%9.1f ${a.tasksDone}%5d  ${a.name.take(70)}")
          }
      }
    }
    spark.stop()
  }
}
