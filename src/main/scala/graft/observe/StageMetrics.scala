package graft.observe

import scala.jdk.CollectionConverters._
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The engine's one `SparkListener`: per-stage task metrics, the jobs it
  * saw with their job group, and progress lines (reference: `PROGRESS`
  * sampling every 5% of batches, src/download.py:10-11,178-187,304-313 —
  * operational logging, not a relational operator, SURVEY.md §2.2
  * `filter_progress`).
  *
  * A line goes to `sink` (default stderr) and to [[events]] whenever a
  * stage crosses another `everyPct` percent of its tasks done. Metrics
  * are summed over every ended task attempt, so failed and speculative
  * attempts count as work; `tasksDone` counts successful attempts only.
  *
  * Scope is whatever the listener hears while attached, not a job group:
  * a streaming micro-batch runs under its query's own group and
  * `Pipeline.runParallel` sets one group per table, so a group-scoped
  * window would miss both. [[StageMetrics.measure]] attaches one around
  * a block. Attached for a whole session, it keeps the newest
  * `MaxRows` stages, jobs and lines; [[totals]] still counts the rest.
  */
class StageMetrics(everyPct: Int = 5, sink: String => Unit = s => System.err.println(s))
    extends SparkListener {
  import StageMetrics._

  // written by the listener-bus thread, read by callers: all under `this`
  private var dropped = Stage()
  private val stageRows = new java.util.LinkedHashMap[Int, Stage] {
    override def removeEldestEntry(e: java.util.Map.Entry[Int, Stage]): Boolean =
      size > MaxRows && { dropped += e.getValue; true }
  }
  private val jobRows = new java.util.LinkedHashMap[Int, Job] {
    override def removeEldestEntry(e: java.util.Map.Entry[Int, Job]): Boolean = size > MaxRows
  }
  private val lines = new java.util.ArrayDeque[String]()

  /** One row per stage, oldest first. */
  def stages: Seq[Stage] = synchronized(stageRows.values.asScala.toVector)

  /** The jobs started while attached, oldest first. */
  def jobs: Seq[Job] = synchronized(jobRows.values.asScala.toVector)

  /** Every stage seen summed, `id` -1 and no name. */
  def totals: Stage = synchronized(stageRows.values.asScala.foldLeft(dropped)(_ + _))

  /** Emitted progress lines, newest last. */
  def events: Seq[String] = synchronized(lines.asScala.toVector)

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(ev.properties).flatMap(p => Option(p.getProperty(k)))
    jobRows.put(ev.jobId, Job(ev.jobId, prop("spark.jobGroup.id"), prop("spark.sql.execution.id")))
  }

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = synchronized {
    val info = ev.stageInfo
    stageRows.put(info.stageId, row(info.stageId).copy(name = info.name.linesIterator.take(1).mkString,
      tasksTotal = math.max(info.numTasks, 1)))
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val info = ev.stageInfo
    val wall = for (done <- info.completionTime; sub <- info.submissionTime) yield done - sub
    stageRows.put(info.stageId, row(info.stageId).copy(wallMs = wall.getOrElse(0L)))
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    val ok = ev.taskInfo != null && ev.taskInfo.successful
    val s = row(ev.stageId) + task(ev.stageId, ok, ev.taskMetrics)
    stageRows.put(ev.stageId, s)
    // a line when this task moves the stage into the next `everyPct` step
    // (a speculative duplicate that also succeeds is caught by the clamp);
    // a stage submitted before the listener attached has no total
    def pct(done: Int) = math.min(100, done * 100 / s.tasksTotal)
    if (ok && s.tasksTotal > 0 &&
      (pct(s.tasksDone) / everyPct > pct(s.tasksDone - 1) / everyPct || s.tasksDone == s.tasksTotal)) {
      val msg = s"[stage ${ev.stageId}] ${s.tasksDone}/${s.tasksTotal} tasks (${pct(s.tasksDone)}%)"
      lines.add(msg)
      if (lines.size > MaxRows) lines.poll()
      sink(msg)
    }
  }

  private def row(id: Int): Stage = stageRows.getOrDefault(id, Stage(id))
}

object StageMetrics {
  private val MaxRows = 10000

  /** One stage's metrics; times in ms except `cpuNs`, sizes in bytes. */
  final case class Stage(id: Int = -1, name: String = "", tasksDone: Int = 0, tasksTotal: Int = 0,
                         wallMs: Long = 0L, taskMs: Long = 0L, cpuNs: Long = 0L, gcMs: Long = 0L,
                         inputBytes: Long = 0L, inputRecords: Long = 0L, shuffleReadBytes: Long = 0L,
                         shuffleReadRecords: Long = 0L, shuffleWriteBytes: Long = 0L,
                         shuffleWriteRecords: Long = 0L, spillBytes: Long = 0L) {
    /** Every count of `o` added to this row's; id and name kept. */
    def +(o: Stage): Stage = copy(tasksDone = tasksDone + o.tasksDone,
      tasksTotal = tasksTotal + o.tasksTotal, wallMs = wallMs + o.wallMs, taskMs = taskMs + o.taskMs,
      cpuNs = cpuNs + o.cpuNs, gcMs = gcMs + o.gcMs, inputBytes = inputBytes + o.inputBytes,
      inputRecords = inputRecords + o.inputRecords, shuffleReadBytes = shuffleReadBytes + o.shuffleReadBytes,
      shuffleReadRecords = shuffleReadRecords + o.shuffleReadRecords,
      shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes,
      shuffleWriteRecords = shuffleWriteRecords + o.shuffleWriteRecords, spillBytes = spillBytes + o.spillBytes)
  }

  /** A job by id, with its `spark.jobGroup.id` and SQL execution id. */
  final case class Job(id: Int, group: Option[String], executionId: Option[String])

  /** One ended task attempt as a row's increment. */
  private def task(stageId: Int, ok: Boolean, m: TaskMetrics): Stage = {
    val done = Stage(stageId, tasksDone = if (ok) 1 else 0)
    if (m == null) done
    else done.copy(taskMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead, inputRecords = m.inputMetrics.recordsRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead, shuffleReadRecords = m.shuffleReadMetrics.recordsRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten, spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Run `f` with a fresh listener attached and return its result with
    * the listener. The bus is drained before the listener attaches, so no
    * event of earlier work reaches it, and again after `f`, so every event
    * `f`'s jobs posted has arrived when this returns. Work other threads
    * run meanwhile is in the window too.
    */
  def measure[A](spark: SparkSession)(f: => A): (A, StageMetrics) = {
    val m = new StageMetrics(sink = _ => ())
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(m)
    try (f, m) finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(m)
    }
  }
}
