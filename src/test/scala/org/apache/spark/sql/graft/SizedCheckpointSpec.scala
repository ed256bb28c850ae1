package org.apache.spark.sql.graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.storage.{RDDBlockId, RDDInfo}
import graft.TestSpark

/** [[Bridge.sizedLocalCheckpoint]]: a checkpoint whose statistics are its
  * materialized bytes, so a join against a small decided set plans as a
  * broadcast in the initial physical plan, by the planner's own threshold.
  */
class SizedCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 100 ids whose logical estimate is a product of join sizes (640 MB). */
  private def smallIdSet(): DataFrame =
    spark.range(0, 100000).join(spark.range(0, 100000, 1000), "id").repartition(4)

  private def probe(ids: DataFrame): SparkPlan =
    spark.range(0, 1000000).join(ids, Seq("id"), "left_semi").queryExecution.sparkPlan

  private def storage(cp: DataFrame): RDDInfo = {
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    Bridge.drainListenerBus(spark)
    spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id).get
  }

  private def joins(plan: SparkPlan): (Int, Int) =
    (plan.collect { case j: BroadcastHashJoinExec => j }.size,
      plan.collect { case j: SortMergeJoinExec => j }.size)

  test("statistics equal the checkpoint's materialized bytes; rows unchanged") {
    val cp = Bridge.sizedLocalCheckpoint(smallIdSet())
    val info = storage(cp)
    assert(info.numCachedPartitions == info.numPartitions)
    assert(info.memSize + info.diskSize > 0)
    assert(cp.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(info.memSize + info.diskSize))
    assert(cp.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100000L by 1000L))
  }

  test("a join against a small sized checkpoint plans a broadcast from the start; a plain one a sort-merge join") {
    val sized = Bridge.sizedLocalCheckpoint(smallIdSet())
    val plain = smallIdSet().localCheckpoint(true)
    assert(joins(probe(sized)) == ((1, 0)), probe(sized))
    assert(joins(probe(plain)) == ((0, 1)), probe(plain))
  }

  test("a sized checkpoint above the broadcast threshold still plans a sort-merge join") {
    val sized = Bridge.sizedLocalCheckpoint(smallIdSet())
    val bytes = storage(sized).memSize + storage(sized).diskSize
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (bytes - 1).toString)
      assert(joins(probe(sized)) == ((0, 1)), probe(sized))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
      assert(joins(probe(sized)) == ((1, 0)), probe(sized))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("an empty checkpoint with no partitions is sized 0 and broadcast") {
    val empty = Bridge.sizedLocalCheckpoint(smallIdSet().limit(0))
    assert(empty.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.getNumPartitions == 0)
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes == 0)
    assert(joins(probe(empty)) == ((1, 0)), probe(empty))
  }

  test("a checkpoint whose RDD is not fully cached falls back to the plain checkpoint") {
    val cp = smallIdSet().localCheckpoint(true)
    val info = storage(cp)
    assert(info.numPartitions > 1)
    SparkEnv.get.blockManager.removeBlock(RDDBlockId(info.id, 0))
    assert(storage(cp).numCachedPartitions < storage(cp).numPartitions)
    assert(Bridge.withCachedSize(cp) eq cp)
  }
}
