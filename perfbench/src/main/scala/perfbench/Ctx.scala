package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** State of one benchmark run: options, the recorder, the operation and
  * check tallies, and the metrics the workload reports.
  */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val work: String,
                val sessionS: Double) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val rec = new Recorder(spark, s"$workload-$seed")
  var attempted = 0L
  var failed = 0L

  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val reportItems = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def report(name: String, v: Double, unit: String): Unit = reportItems(name) = (v, unit)

  /** One output check, run outside every timed section. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed =
      try ok
      catch { case e: Exception =>
        System.err.println(s"[perfbench] check '$what' threw: $e"); false }
    if (!passed) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }

  /** Compare two values under one check, printing both on mismatch. */
  def checkEq[T](what: String)(got: => T, want: => T): Unit = check(what) {
    val (g, w) = (got, want)
    if (g != w) (g, w) match {
      case (gs: Set[Any @unchecked], ws: Set[Any @unchecked]) => System.err.println(s"[perfbench] $what: " +
        s"${(gs -- ws).size} unexpected, e.g. ${(gs -- ws).take(3)}; " +
        s"${(ws -- gs).size} missing, e.g. ${(ws -- gs).take(3)}")
      case _ => System.err.println(s"[perfbench] $what: got $g, want $w")
    }
    g == w
  }

  /** One operation of the workload: counted as attempted; a throw counts
    * as failed and ends the run.
    */
  def op[T](f: => T): T = {
    attempted += 1
    try f
    catch { case e: Throwable => failed += 1; throw e }
  }

  def dir(parts: String*): String = (work +: parts).mkString("/")

  /** Runs `f` and returns its result with its wall seconds, the process
    * CPU seconds it used and the Spark stages it ran.
    */
  def measure[T](f: => T): (T, Cost) = {
    val stages0 = rec.stagesCompleted()
    val t0 = System.nanoTime()
    val cpu0 = Ctx.cpuSeconds()
    val r = f
    val (wallS, cpuS) = (Ctx.seconds(t0), Ctx.cpuSeconds() - cpu0)
    (r, Cost(wallS, cpuS, rec.stagesCompleted() - stages0))
  }
}

final case class Cost(wallS: Double, cpuS: Double, stages: Long) {
  def +(o: Cost): Cost = Cost(wallS + o.wallS, cpuS + o.cpuS, stages + o.stages)
}

object Ctx {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** CPU seconds used so far by every thread of this JVM: task threads,
    * the driver, GC and the JIT compiler. CPU time the host stole from
    * the VM is not in it.
    */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Bytes of all regular files under `dir`, counting each inode once, so
    * hard-linked files shared between versions count once.
    */
  def bytesUnder(dir: String): Long = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    if (!Files.exists(root)) return 0L
    val seen = mutable.HashSet.empty[AnyRef]
    var total = 0L
    val walk = Files.walk(root)
    try walk.forEach { p =>
      if (Files.isRegularFile(p)) {
        val key = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
        if (key == null || seen.add(key)) total += Files.size(p)
      }
    } finally walk.close()
    total
  }

  /** Order-independent content checksum of `df` over `cols`: row count,
    * the sum of 31-bit row hashes, and their xor. Equal tables give equal
    * checksums however their rows are partitioned or ordered.
    */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val h = xxhash64(cols.map(c => col(c)): _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1L << 31))), bit_xor(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Bytes of files under `dir` written at or after `sinceMs`. */
  def bytesWrittenSince(dir: String, sinceMs: Long): Long = {
    import java.nio.file.{Files, Paths}
    val walk = Files.walk(Paths.get(dir))
    try walk.filter(p => Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs)
      .mapToLong(p => Files.size(p)).sum()
    finally walk.close()
  }

  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
  }
}
