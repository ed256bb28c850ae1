package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver testdata layout (TESTDATA.md).
  *
  * Stands in for the reference's runtime schema discovery from
  * `information_schema` (reference: src/table.py:66-75) — with Parquet the
  * schema travels with the data, so "discovery" is just `df.schema`.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The `events` fixture has shipped `ts` as two physical types across
    * testdata generations: parquet TIMESTAMP(NANOS) (read as raw int64 via
    * the legacy nanosAsLong conf, since the vectorized reader rejects nanos
    * with [PARQUET_TYPE_ILLEGAL]) and TIMESTAMP(MICROS) without UTC
    * adjustment (read natively as TIMESTAMP_NTZ). Branch on the loaded
    * dtype so the loader works on both; either path lands on Spark's
    * session-TZ TimestampType (session TZ is UTC, so the NTZ cast is a
    * numeric no-op and keeps DuckDB parity).
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Normalize the `ts` column of an events frame (batch OR streaming) to
    * session-TZ TimestampType, branching on whatever physical type the
    * fixture generation produced (see [[loadEvents]]).
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // truncating ns→µs with exact integral arithmetic (matches DuckDB):
        // `/` would go through double, which cannot represent ~1.7e18 ns
        // exactly (ulp ≈ 0.4 µs), making apparent rounding nondeterministic
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events ts has unsupported type $other; expected int64 nanos or timestamp")
    }
  }

  val AllTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  /** Register every testdata table (+ `events`) as a temp view so the
    * whole engine is reachable through the `spark.sql` text surface too.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    AllTables.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
    loadEvents(spark, sfDir).createOrReplaceTempView("events")
  }
}
