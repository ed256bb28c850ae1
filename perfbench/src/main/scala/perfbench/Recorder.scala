package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's layer recorder.
  *
  *  - Spans (name, start, end, parent, run id, operation, job group) are
  *    kept in memory for every timed call and written out when the run
  *    ends, with each span's self time (its duration minus the part its
  *    children cover).
  *  - While tracing, a SparkListener sums task metrics per job group. The
  *    harness sets a `pb|<layer>|<call>` group around each layer call;
  *    jobs of a streaming micro-batch are keyed `stream|<run id>|<batch>`
  *    from the local properties Structured Streaming sets.
  *  - A StreamingQueryListener keeps every micro-batch's progress (trigger
  *    time, input rows), and a stage counter counts completed stages,
  *    traced or not.
  *  - [[drain]] empties the listener bus at every boundary, so events of
  *    one call never land after the boundary that closes it.
  */
final class Recorder(spark: SparkSession, runId: String) {
  import Recorder._

  private val origin = System.nanoTime()
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val groups = new ConcurrentHashMap[String, Agg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val stagesDone = new AtomicLong(0)
  @volatile private var tracing = false

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stagesDone.incrementAndGet()
  })

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val key = prop("streaming.sql.batchId") match {
        case Some(b) => prop("spark.jobGroup.id").map(g => s"stream|$g|$b")
        case None => prop("spark.jobGroup.id").filter(_.startsWith("pb|"))
      }
      key.foreach(k => e.stageIds.foreach(s => stageGroup.putIfAbsent(s, k)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(t.stageId)
      val m = t.taskMetrics
      if (g != null && m != null) {
        val a = groups.computeIfAbsent(g, _ => new Agg)
        a.synchronized {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
          a.outputBytes += m.outputMetrics.bytesWritten
          a.outputRecords += m.outputMetrics.recordsWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val g = stageGroup.get(s.stageInfo.stageId)
      if (g != null) {
        val a = groups.computeIfAbsent(g, _ => new Agg)
        a.synchronized(a.stages += 1)
      }
    }
  }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(p.durationMs.get("triggerExecution")).foreach { ms =>
        progress.add(Progress(p.runId.toString, p.batchId, ms.longValue / 1e3, p.numInputRows))
      }
    }
  })

  def isTracing: Boolean = tracing

  /** Attach or detach the task listener, draining the bus first so no
    * event crosses the switch.
    */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    drain()
    if (on) spark.sparkContext.addSparkListener(taskListener)
    else spark.sparkContext.removeSparkListener(taskListener)
    tracing = on
  }

  def drain(): Unit = org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)

  /** Spark stages run to completion so far, traced or not. */
  def stagesCompleted(): Long = { drain(); stagesDone.get }

  /** Time `f` as a span. `f` gets the span's id, for children. */
  def span[T](name: String, parent: Long, op: String, group: String = "")(f: Long => T): T = {
    val id = nextId.incrementAndGet()
    val start = System.nanoTime()
    try f(id)
    finally spans.add(Span(id, name, parent, op, group, start - origin, System.nanoTime() - origin))
  }

  /** A layer call: a span named after the layer, run under the layer's
    * job group while tracing. Returns the result.
    */
  def call[T](layer: String, callId: String, parent: Long, op: String)(f: => T): T = {
    val sc = spark.sparkContext
    val group = if (tracing) s"pb|$layer|$callId" else ""
    if (tracing) sc.setJobGroup(group, layer)
    try span(layer, parent, op, group)(_ => f)
    finally if (tracing) sc.clearJobGroup()
  }

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  def agg(group: String): Agg = Option(groups.get(group)).getOrElse(new Agg)

  /** Write every span with its self time as a JSON array. */
  def writeSpans(path: String): Unit = {
    val all = spans.asScala.toSeq.sortBy(_.start)
    val children = all.groupBy(_.parent)
    val lines = all.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run" -> Json.str(runId), "op" -> Json.str(s.op),
        "group" -> Json.str(s.group), "start_s" -> Json.num(s.start / 1e9),
        "end_s" -> Json.num(s.end / 1e9), "self_s" -> Json.num((s.end - s.start - covered) / 1e9)))
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Recorder {
  final case class Span(id: Long, name: String, parent: Long, op: String, group: String,
                        start: Long, end: Long)

  final case class Progress(runId: String, batchId: Long, triggerS: Double, inputRows: Long)

  final class Agg {
    var tasks, stages = 0L
    var taskMs, gcMs = 0L
    var inputBytes, inputRecords, outputBytes, outputRecords = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

    def +(o: Agg): Agg = {
      val r = new Agg
      r.tasks = tasks + o.tasks; r.stages = stages + o.stages
      r.taskMs = taskMs + o.taskMs; r.gcMs = gcMs + o.gcMs
      r.inputBytes = inputBytes + o.inputBytes; r.inputRecords = inputRecords + o.inputRecords
      r.outputBytes = outputBytes + o.outputBytes; r.outputRecords = outputRecords + o.outputRecords
      r.shuffleReadBytes = shuffleReadBytes + o.shuffleReadBytes
      r.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
      r.spillBytes = spillBytes + o.spillBytes
      r
    }
  }

  /** Total length of the union of [start, end) intervals, in ns. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** One operation's share of a layer: its wall time and the job groups
    * its work ran under.
    */
  final case class LayerOp(wallS: Double, groups: Seq[String])

  val LayerNames: Seq[String] = Seq("warm", "commit", "post_update", "maintain", "batch", "gate")

  /** Per-layer metric names, in report order. */
  val LayerFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_s" -> "s", "gc_s" -> "s", "idle_core_frac" -> "ratio",
    "input_mb" -> "MB", "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "output_mb" -> "MB", "stages" -> "count", "tasks" -> "count")

  /** Report the per-layer metrics of `layer` as medians over its traced
    * operations.
    */
  def reportLayer(ctx: Ctx, layer: String, ops: Seq[LayerOp]): Unit = {
    val per = ops.map { op =>
      val a = op.groups.map(ctx.rec.agg).foldLeft(new Agg)(_ + _)
      val taskS = a.taskMs / 1e3
      Map("wall_s" -> op.wallS, "task_s" -> taskS, "gc_s" -> a.gcMs / 1e3,
        "idle_core_frac" -> (1 - taskS / (op.wallS * ctx.cores)),
        "input_mb" -> a.inputBytes / 1e6, "shuffle_read_mb" -> a.shuffleReadBytes / 1e6,
        "shuffle_write_mb" -> a.shuffleWriteBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6,
        "output_mb" -> a.outputBytes / 1e6, "stages" -> a.stages.toDouble,
        "tasks" -> a.tasks.toDouble)
    }
    LayerFields.foreach { case (f, unit) =>
      ctx.layer(s"$layer.$f", if (per.isEmpty) 0.0 else Ctx.median(per.map(_(f))), unit)
    }
  }

  /** Summed records read / written over `ops`' groups. */
  def records(ctx: Ctx, ops: Seq[LayerOp]): (Long, Long) = {
    val a = ops.flatMap(_.groups).map(ctx.rec.agg).foldLeft(new Agg)(_ + _)
    (a.inputRecords, a.outputRecords)
  }

  val Ratios: Seq[String] = Seq("warm.rows_scanned_per_delta_row",
    "commit.rows_written_per_delta_row", "batch.buckets_touched_frac",
    "batch.rows_rewritten_per_update_row", "gate.admit_frac", "trace_overhead_frac")

  /** Every per-layer metric, in report order. */
  val AllLayerMetrics: Seq[(String, String)] =
    LayerNames.flatMap(l => LayerFields.map { case (f, u) => s"$l.$f" -> u }) ++
      Ratios.map(_ -> "ratio")
}
