package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

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
  private final class Agg {
    var name = ""
    var wallMs = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shufReadB = 0L
    var shufReadRec = 0L
    var shufWriteB = 0L
    var shufWriteRec = 0L
    var spillB = 0L
    var inputB = 0L
    var tasks = 0
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProf <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder(graft.Session.cores).getOrCreate()
    val scaledDir = graft.Session.scaledFixtures(spark, sfDir, "stageprof")
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    // @volatile + waitUntilEmpty below (ADVICE r14): the flag is read on
    // the async listener-bus thread and written from main; without the
    // barrier, late TaskEnd events of query N could be dropped or
    // misattributed to query N+1 after stages.clear()
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (collecting) {
        val a = stages.computeIfAbsent(t.stageId, _ => new Agg)
        val m = t.taskMetrics
        if (m != null) a.synchronized {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.shufReadRec += m.shuffleReadMetrics.recordsRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          a.shufWriteRec += m.shuffleWriteMetrics.recordsWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputB += m.inputMetrics.bytesRead
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (collecting) {
        val a = stages.computeIfAbsent(s.stageInfo.stageId, _ => new Agg)
        a.synchronized {
          a.name = s.stageInfo.name.linesIterator.take(1).mkString
          a.wallMs += (for {
            done <- s.stageInfo.completionTime
            sub <- s.stageInfo.submissionTime
          } yield done - sub).getOrElse(0L)
        }
      }
    })
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[stageprof] unknown query: $name")
        case Some(fn) =>
          val dir = graft.Session.postureFor(spark, name, sfDir, scaledDir)
          org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
          stages.clear()
          collecting = true
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // drain in-flight events BEFORE flipping the flag so query N's
          // late TaskEnd/StageCompleted land in its own table
          org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
          collecting = false
          println(f"%n== $name: $wall%.2f s, ${stages.size} stages (by task time) ==")
          println(f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"gc_s"}%6s ${"in_MB"}%8s " +
            f"${"sh_rd_MB"}%9s ${"sh_wr_MB"}%9s ${"rd_rec"}%10s ${"wr_rec"}%10s " +
            f"${"spill_MB"}%9s ${"tasks"}%5s  name")
          import scala.jdk.CollectionConverters._
          stages.asScala.toSeq.sortBy(-_._2.taskMs).take(30).foreach { case (id, a) =>
            println(f"$id%6d ${a.wallMs / 1e3}%8.2f ${a.taskMs / 1e3}%8.2f " +
              f"${a.gcMs / 1e3}%6.1f ${a.inputB / 1e6}%8.1f ${a.shufReadB / 1e6}%9.1f " +
              f"${a.shufWriteB / 1e6}%9.1f ${a.shufReadRec}%10d ${a.shufWriteRec}%10d " +
              f"${a.spillB / 1e6}%9.1f ${a.tasks}%5d  ${a.name.take(70)}")
          }
      }
    }
    spark.stop()
  }
}
