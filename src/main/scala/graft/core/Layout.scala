package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Output data layout for scan efficiency at scale.
  *
  * At 100 TB the snapshot's file layout decides every later scan's cost:
  * range-partitioning by the key gives globally sorted files whose
  * parquet min/max column statistics prune key-range scans to a handful
  * of files; `maxRecordsPerFile` keeps individual files within the
  * task-size sweet spot (the MyISAM "optimize for reads" intent of the
  * reference, README.md:14, done the columnar way).
  */
object Layout {
  /** Write `df` range-partitioned and sorted by `sortCols` into at most
    * `numFiles` key-disjoint ranges, with at most `maxRecordsPerFile` rows
    * per file.
    *
    * Without `splits` the range bounds come from `repartitionByRange`,
    * which samples the whole input in a job of its own before the
    * shuffle. With `splits` (ascending split points of the one sort
    * column, fewer than `numFiles`, e.g. `percentile_approx` observed on
    * an earlier pass) each row goes straight to its range through
    * `repartitionById`, and no sample job runs: range i holds the keys in
    * (split i-1, split i], nulls in the first. Repeated split points
    * (fewer distinct keys than ranges) collapse into one range.
    */
  def writeSorted(df: DataFrame, dir: String, sortCols: Seq[String],
                  numFiles: Int, maxRecordsPerFile: Long = 5000000L,
                  splits: Seq[Any] = Nil): Unit = {
    require(splits.isEmpty || (sortCols.size == 1 && splits.size < numFiles),
      "split points need one sort column and fewer splits than files")
    val ranged =
      if (splits.isEmpty) df.repartitionByRange(numFiles, sortCols.map(col): _*)
      else {
        val bounds = splits.distinct
        val c = col(sortCols.head)
        df.repartitionById(bounds.size + 1,
          bounds.map(b => when(c > lit(b), 1).otherwise(0)).reduce(_ + _))
      }
    ranged.sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(dir)
  }

  /** Whether `percentile_approx` takes values of `t`, so a one-column
    * key of that type can have its range split points observed.
    */
  def rangeSplittable(t: DataType): Boolean = t match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType |
         _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }

  /** Z-order curve value for `cols`: each column linearly scaled to a
    * `bits`-bit bucket within [min, max], buckets bit-interleaved. Rows
    * close on the curve are close in EVERY dimension, so files written in
    * z order carry tight parquet min/max statistics on every z column at
    * once — a filter on any one of them prunes row groups, where a
    * lexicographic sort only serves its leading column.
    *
    * Bounds may come from a sample at scale: values outside are CLAMPED
    * to the edge buckets (correct, marginally worse locality), so stale
    * or approximate bounds never produce wrong layouts.
    */
  def zorderValue(cols: Seq[Column], mins: Seq[Long], maxs: Seq[Long],
                  bits: Int = 16): Column = {
    require(cols.nonEmpty && cols.size * bits <= 63, "z-value must fit a long")
    val top = (1L << bits) - 1
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val range = math.max(1L, maxs(i) - mins(i))
      least(lit(top), greatest(lit(0L),
        ((c.cast("double") - lit(mins(i).toDouble)) / lit(range.toDouble) * lit(top.toDouble))
          .cast("long")))
    }
    val n = scaled.size
    (0 until bits).flatMap(b => scaled.zipWithIndex.map { case (s, d) =>
      shiftleft(shiftright(s, b).bitwiseAND(lit(1L)), b * n + d)
    }).reduce(_ bitwiseOR _)
  }

  /** Write `df` clustered along the z-order curve of `zCols` (numeric).
    * One min/max pass sizes the curve (at 100 TB, run it on a sample —
    * see [[zorderValue]] on clamping), then one range-partitioned write;
    * the curve column itself is not persisted. The min/max pass, the
    * write's range sample and its shuffle each read `df`, so an input
    * that is not cached yet is persisted for the call and unpersisted
    * after. A one-column curve is monotone in its column, so one column
    * is the range-sorted writer ([[writeSorted]]) with no stats pass: its
    * files get key-disjoint ranges at least as tight as the curve's
    * 16-bit buckets.
    */
  def writeZordered(df: DataFrame, dir: String, zCols: Seq[String],
                    numFiles: Int, maxRecordsPerFile: Long = 5000000L,
                    bits: Int = 16): Unit = {
    if (zCols.size == 1) {
      writeSorted(df, dir, zCols, numFiles, maxRecordsPerFile)
      return
    }
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // shrink per-column bits for wide z keys so the interleave always
      // fits one long — locality degrades gracefully instead of throwing
      val useBits = math.max(1, math.min(bits, 63 / math.max(zCols.size, 1)))
      val aggs = zCols.flatMap(c => Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
      val stats = df.agg(aggs.head, aggs.tail: _*).head()
      if (zCols.indices.exists(i => stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1))) {
        // empty input or an all-null z column: no curve to build on that
        // dimension — degrade to the plain sorted writer rather than NPE
        writeSorted(df, dir, zCols, numFiles, maxRecordsPerFile)
        return
      }
      // null z-column values clamp to bucket 0 (curve origin) via
      // greatest(0, null) — deliberate: they stay clustered together
      val mins = zCols.indices.map(i => stats.getLong(2 * i))
      val maxs = zCols.indices.map(i => stats.getLong(2 * i + 1))
      df.withColumn("__z", zorderValue(zCols.map(col), mins, maxs, useBits))
        .repartitionByRange(numFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .parquet(dir)
    } finally if (owned) df.unpersist()
  }
}
