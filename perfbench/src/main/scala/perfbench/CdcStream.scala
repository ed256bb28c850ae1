package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BucketedSnapshot, Pipeline}
import graft.stream.StreamingCdc
import Recorder.LayerOp

/** Streaming micro-batch apply onto a hash-bucketed snapshot through
  * `StreamingCdc.continuousApplyBucketed`, measured in traced `cdc_warm`
  * runs. Update files land up front and one call with
  * `maxFilesPerTrigger = 1` drains them, one micro-batch and one committed
  * version per file: a closed-loop backlog drain.
  *
  * Each update file holds `BatchRows` rows, the reference's default batch
  * size, a fraction of a percent of the keys: 80% update existing keys
  * with the same recency skew as `cdc_warm`, 20% append new keys at the
  * top. A key can repeat within a file; its `seq` orders the writes. The
  * key count, the bucket count and the update/new mix are assumed.
  */
object CdcStream {
  val Keys = 100000
  val Buckets = 32
  val BatchRows = 100
  val FilesPerRound = 2
  val DataCols: Seq[String] = Seq("name", "value")
  val Cols: Seq[String] = Seq("id", "name", "value", "seq")

  /** The seeded update generator: one parquet file per micro-batch. */
  final class Updates(spark: SparkSession, seed: Long, val root: String, keys: Int) {
    import spark.implicits._
    val input = s"$root/input"
    private var maxId = keys.toLong
    private var seq = 0L
    var files = 0
    private val mtime0 = System.currentTimeMillis() - 3600 * 1000L
    private val rng = new java.util.Random(seed * 1000003L + 17)

    private def rows(ids: DataFrame): DataFrame = {
      def h(k: Int) = xxhash64(lit(seed), col("id"), col("seq"), lit(k))
      ids.select(col("id"), concat(lit("n"), hex(pmod(h(1), lit(1L << 32)))).as("name"),
        (pmod(h(2), lit(1000000L)).cast("double") / 100).as("value"), col("seq"))
    }

    /** Land `df` as the next input file, its mtime one second after the
      * previous file's, so the file source replays files in `seq` order.
      */
    private def land(df: DataFrame): Unit = {
      import java.nio.file.{Files, Paths}
      val tmp = s"$root/staging"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = Paths.get(input, f"u$files%06d.parquet")
      Files.createDirectories(dst.getParent)
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime0 + files * 1000L))
      Ctx.rmrf(tmp)
      files += 1
    }

    def writeBase(): Unit = land(rows(spark.range(1, maxId + 1).select(col("id"), lit(0L).as("seq"))))

    /** The next update file; returns the share of buckets it touches. */
    def writeBatch(): Double = {
      val ids = Array.fill(BatchRows) {
        seq += 1
        val id =
          if (rng.nextDouble() < 0.2) { maxId += 1; maxId }
          else { val u = rng.nextDouble(); math.max(1L, maxId - (maxId * u * u * u).toLong) }
        (id, seq)
      }
      val df = rows(ids.toSeq.toDF("id", "seq"))
      land(df)
      df.select(BucketedSnapshot.bucketOf("id", Buckets)).distinct().count().toDouble / Buckets
    }
  }

  final case class Dirs(input: String, checkpoint: String, snapshot: String)

  def drain(spark: SparkSession, p: Dirs): Unit =
    StreamingCdc.continuousApplyBucketed(spark, p.input, p.checkpoint, p.snapshot, "id",
      DataCols, Buckets, orderCol = Some("seq"), maxFilesPerTrigger = Some(1))

  /** The snapshot equals the last write per key, ordered by `seq`, and one
    * version was committed per input file.
    */
  def checkFinal(ctx: Ctx, u: Updates, p: Dirs, at: String): Unit = {
    val spark = ctx.spark
    val v = Pipeline.currentVersion(p.snapshot).getOrElse(0L)
    ctx.checkEq(s"$at: VERSION equals the number of batches applied")(v, u.files.toLong)
    val all = spark.read.parquet(u.input)
    val last = all.groupBy("id").agg(max_by(struct(Cols.map(col): _*), col("seq")).as("r"))
      .select(Cols.map(c => col(s"r.$c")): _*)
    ctx.checkEq(s"$at: snapshot equals the last write per key by seq")(
      Ctx.checksum(BucketedSnapshot.read(spark, p.snapshot, "snapshot", v), Cols),
      Ctx.checksum(last, Cols))
  }

  def paths(root: String): Dirs = Dirs(s"$root/input", s"$root/checkpoint", s"$root/snapshot")

  /** Progress of the micro-batches that carried rows, since `from`. */
  private def batchesSince(ctx: Ctx, from: Int): Seq[Recorder.Progress] = {
    ctx.rec.drain()
    import scala.jdk.CollectionConverters._
    ctx.rec.progress.asScala.toSeq.drop(from).filter(_.inputRows > 0)
  }

  /** The streaming part of a traced `cdc_warm` run: a cold batch loads the
    * base into an empty bucketed snapshot, then one traced drain of
    * `FilesPerRound` files. Reports the `batch` layer and the streaming
    * figures, then checks the final snapshot.
    */
  def traced(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val u = new Updates(spark, ctx.seed, ctx.dir("stream"), Keys)
    u.writeBase()
    val p = paths(u.root)
    val t0 = System.nanoTime()
    ctx.op(ctx.rec.span("cold_batch", 0L, "stream")(_ => drain(spark, p)))
    val coldS = Ctx.seconds(t0)
    val updateBytesPerRow = Ctx.bytesUnder(u.input).toDouble / Keys
    ctx.rec.drain()
    val seen = ctx.rec.progress.size
    val touched = (1 to FilesPerRound).map(_ => u.writeBatch())
    ctx.rec.setTracing(true)
    val sinceMs = System.currentTimeMillis() - 1
    val r0 = System.nanoTime()
    ctx.op(ctx.rec.span("drain", 0L, "stream")(_ => drain(spark, p)))
    val wallS = Ctx.seconds(r0)
    ctx.rec.setTracing(false)
    val batches = batchesSince(ctx, seen)
    ctx.checkEq("stream drain: one micro-batch per file")(batches.size, FilesPerRound)
    checkFinal(ctx, u, p, "stream")

    val rows = batches.map(_.inputRows).sum
    Seq("stream_cold_batch_s" -> (coldS, "s"),
      "batch_s" -> (Ctx.median(batches.map(_.triggerS)), "s"),
      "update_rows_per_s" -> (rows / wallS, "1/s"),
      "stream_write_amp" -> (Ctx.bytesWrittenSince(p.snapshot, sinceMs) / (rows * updateBytesPerRow), "ratio"))
      .foreach { case (k, (x, unit)) => ctx.report(k, x, unit) }
    val ops = batches.map(b => LayerOp(b.triggerS, Seq(s"stream|${b.runId}|${b.batchId}")))
    Recorder.reportLayer(ctx, "batch", ops)
    ctx.layer("batch.buckets_touched_frac", Ctx.median(touched), "ratio")
    ctx.layer("batch.rows_rewritten_per_update_row",
      Recorder.records(ctx, ops)._2.toDouble / rows, "ratio")
  }
}
