package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.TestSpark

/** TribeAgg's tribe and active membership are key probes decided by the
  * one small-relation rule ([[Diff.collectIfSmall]]): a driver-side key
  * set under the broadcast threshold, a `<=>` join above it. Both paths
  * must give the rows of the reference's `===` joins (post_update.py:
  * 22-91), null tribe keys, null member FKs and null member keys
  * matching nothing, a duplicate active key counting once.
  */
class TribeAggEquivalenceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Default = 10L * 1024 * 1024
  private val Stats = Seq("stat")

  private def tribe = Seq(Some(1L), Some(2L), Some(3L), None).toDF("t_id")
  private def members = Seq[(Option[Long], Option[Long])](
    (Some(10), Some(1)), (Some(11), Some(1)), (None, Some(1)), // a null member key
    (Some(12), None), (None, None),                           // null member FKs
    (Some(13), Some(2)), (Some(14), Some(9))                  // 9 is no tribe
  ).toDF("m_id", "m_tribe")
  // 10 listed twice; a null key; 12's member has no tribe
  private def active = Seq(Some(10L), Some(10L), None, Some(12L), Some(13L)).toDF("a_id")
  private def facts = Seq[(Option[Long], Double)](
    (Some(10), 1.0), (Some(10), 2.0), (Some(11), 4.0), (Some(12), 8.0), (Some(13), 16.0),
    (None, 32.0)).toDF("p_id", "stat")

  /** The reference's plain `===` joins, the active keys deduplicated. */
  private def expectedActive: DataFrame =
    tribe.join(members, col("t_id") === col("m_tribe"))
      .join(active.distinct(), col("m_id") === col("a_id"), "left_outer")
      .groupBy("t_id")
      .agg(count("m_id").as("members"), count("a_id").as("active"),
        pow(count("m_id"), 0.5).as("members_sqrt"))

  private def expectedStats: DataFrame =
    tribe.join(members, col("t_id") === col("m_tribe"))
      .join(facts, col("m_id") === col("p_id"))
      .groupBy("t_id").agg(sum("stat").as("s"))
      .join(expectedActive, "t_id")
      .select(col("t_id"), col("members"), col("active"), (col("s") / col("members_sqrt")).as("stat"))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private def tribeActive(t: DataFrame = tribe, a: DataFrame = active) =
    TribeAgg.tribeActive(t, members, a, "t_id", "m_tribe", "m_id")

  private def tribeStats(precomputed: Option[DataFrame]) = TribeAgg.tribeStats(tribe, members,
    facts, active, "t_id", "m_tribe", "m_id", "p_id", Stats, precomputed)

  test("the reference rows: nulls match nothing, a duplicate active key counts once") {
    val want = rows(expectedActive)
    assert(want == Set(Seq(1L, 2L, 1L, math.sqrt(2)), Seq(2L, 1L, 1L, 1.0)))
    assert(rows(expectedStats) == Set(Seq(1L, 2L, 1L, 7.0 / math.sqrt(2)), Seq(2L, 1L, 1L, 16.0)))
  }

  for ((name, threshold) <- Seq("driver key sets" -> Default, "joins" -> -1L)) {
    test(s"tribeActive and tribeStats over $name give the reference rows") {
      TestSpark.withBroadcastThreshold(threshold) {
        assert(rows(tribeActive()) == rows(expectedActive))
        assert(rows(tribeStats(None)) == rows(expectedStats))
        assert(rows(tribeStats(Some(tribeActive()))) == rows(expectedStats))
      }
    }

    test(s"postUpdateIncremental over $name writes the reference rows") {
      val base = java.nio.file.Files.createTempDirectory("graft_tribe_eq").toString
      TestSpark.withBroadcastThreshold(threshold) {
        Runner.postUpdateIncremental(spark, base, tribe, members, members, facts, active, active,
          "t_id", "m_tribe", "m_id", "p_id", Stats)
      }
      assert(rows(spark.read.parquet(s"$base/tribe_active")) == rows(expectedActive))
      assert(rows(spark.read.parquet(s"$base/tribe_stats")) == rows(expectedStats))
    }
  }

  test("a local active-key relation reaches the driver without a job; no join, no broadcast") {
    val local = Seq(10L, 10L, 13L).toDF("a_id")
    assert(TestSpark.jobsOf(Diff.keys(local, Seq("a_id"))) == 0)
    assert(Diff.keys(local, Seq("a_id")).set.nonEmpty)
    var df: DataFrame = null
    assert(TestSpark.jobsOf { df = tribeActive(tribe, local) } == 0)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty, plan)
    // above the threshold the same call joins
    val joined = TestSpark.withBroadcastThreshold(-1L) {
      val j = tribeActive(tribe, local)
      j.collect()
      j.queryExecution.executedPlan
    }
    assert(collect(joined) { case j: BaseJoinExec => j }.nonEmpty, joined)
  }
}
