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

  /** Spark jobs started by `f`, counted by job group. A sentinel job in a
    * group of its own flushes the listener bus, which delivers in order.
    */
  def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val sentinel = s"$group-end"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel", interruptOnCancel = false)
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Run `f` with the session's broadcast threshold set to `bytes`. */
  def withBroadcastThreshold[A](bytes: Long)(f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try f finally spark.conf.set(key, prev)
  }
}
