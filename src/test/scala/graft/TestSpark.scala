package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, in the engine's own posture. */
object TestSpark {
  val Cores = 4
  lazy val spark: SparkSession = Session.builder(Cores)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
  val Sf = "/root/testdata/sf0.001"

  /** Spark jobs started by `f`, counted by job group in a
    * [[graft.observe.StageMetrics]] window.
    */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val (_, m) = graft.observe.StageMetrics.measure(spark) {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }
    m.jobs.count(_.group.contains(group))
  }

  /** Run `f` with the session's broadcast threshold set to `bytes`. */
  def withBroadcastThreshold[A](bytes: Long)(f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try f finally spark.conf.set(key, prev)
  }
}
