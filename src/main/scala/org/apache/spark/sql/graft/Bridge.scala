package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Converters between the public `Column` API and catalyst `Expression`s.
  *
  * Spark 4 moved these behind `private[sql]` (`ExpressionUtils`,
  * columnNodeSupport.scala in the Spark source tree); placing this object
  * inside the `org.apache.spark.sql` package tree is the standard way for
  * libraries shipping custom catalyst expressions to reach them.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the `Dataset.ofRows`
    * entry point custom operators need (private[sql] in Spark 4).
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a native expression as a SQL function on a LIVE session
    * (the extensions route only applies at session build).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `a` merged with `b` as parquet schema merging does (fields of `b`
    * missing from `a` appended; case sensitivity from the session conf).
    */
  def mergeSchema(a: org.apache.spark.sql.types.StructType,
                  b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    a.merge(b, org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)

  /** Block until the listener bus has delivered every queued event —
    * `SparkContext.listenerBus` is `private[spark]`. The barrier that
    * opens and closes a [[graft.observe.StageMetrics.measure]] window, so
    * late TaskEnd events can't leak across its boundaries (ADVICE r14),
    * and that [[withCachedSize]] waits on before reading the storage
    * report.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** An eager `localCheckpoint` whose statistics are its materialized
    * size. A plain checkpoint keeps the logical estimate of the plan it
    * froze, which for a join is a product of sizes: a 15 KB id set then
    * plans as a sort-merge join, both sides shuffle, and AQE turns the
    * join into a broadcast only after the shuffles ran. Sized, the
    * planner's own `autoBroadcastJoinThreshold` rule decides from the
    * start; above the threshold the plan is what it was.
    */
  def sizedLocalCheckpoint(df: DataFrame): DataFrame = withCachedSize(df.localCheckpoint(true))

  /** `cp` (an eager local checkpoint) with `originStats` set to the
    * bytes its RDD holds in memory and on disk, read from the storage
    * report (driver-side, no job). The report is kept by a listener, so
    * the bus is drained first: every block the checkpoint job stored is
    * then counted, and the size does not depend on listener timing. An
    * RDD with no partitions stores no block and is absent from the
    * report; its size is 0. `cp` itself when its plan is not an RDD scan
    * or not every partition is cached.
    */
  private[graft] def withCachedSize(cp: DataFrame): DataFrame = cp.queryExecution.logical match {
    case r: LogicalRDD =>
      val spark = cp.sparkSession
      drainListenerBus(spark)
      val bytes =
        if (r.rdd.getNumPartitions == 0) Some(0L)
        else spark.sparkContext.getRDDStorageInfo.find(_.id == r.rdd.id)
          .filter(i => i.numCachedPartitions == i.numPartitions)
          .map(i => i.memSize + i.diskSize)
      bytes.fold(cp) { n =>
        ofRows(spark, r.copy()(spark.asInstanceOf[classic.SparkSession],
          Some(Statistics(BigInt(n))), Some(r.constraints)))
      }
    case _ => cp
  }
}
