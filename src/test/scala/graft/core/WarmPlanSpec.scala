package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.exchange.Exchange
import graft.TestSpark
import graft.queries.Fixture

/** "Diff never moves full rows" ([[Diff]]), pinned on the path that runs:
  * the warm classify against a signature state committed by
  * [[Pipeline.commitVersioned]] shuffles (key, sig) projections only —
  * no Exchange in the plan carries a data column.
  */
class WarmPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Force the at-scale SMJ path and disable AQE so executedPlan is the
    * raw tree (AdaptiveSparkPlanExec hides its subtree from collect()).
    */
  private def withSMJ[A](f: => A): A = {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      f
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("classifyState over a committed state exchanges only key and signature columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warm_plan").toString
    val i = Fixture.internal(spark, TestSpark.Sf)
    val e = Fixture.external(spark, TestSpark.Sf)
    val cold = Pipeline.warm(i.limit(0), i, Fixture.Key, Fixture.DataCols)
    try Pipeline.commitVersioned(cold, dir, Pipeline.SnapshotLayout.Zordered(Fixture.Key))
    finally cold.release()
    val st = Pipeline.readLatest(spark, dir, "state")
    withSMJ {
      // warm's `kinds` is persisted (an InMemoryTableScan); the classify
      // plan itself comes from classifyState
      val plan = Diff.classifyState(st, e, Fixture.Key, Fixture.DataCols)
        .queryExecution.executedPlan
      val exchanged = plan.collect { case x: Exchange => x.output.map(_.name) }
      assert(exchanged.size >= 2, s"expected both join sides to shuffle:\n$plan")
      val keyLike = Fixture.Key.flatMap(k => Seq(k, s"__ki_$k", s"__ke_$k")).toSet
      val sigLike = Set(Diff.SigCol, "sig_i", "sig_e")
      for (cols <- exchanged) {
        assert(cols.forall(c => keyLike(c) || sigLike(c)),
          s"Exchange carries non-key/sig columns ${cols.mkString(",")}:\n$plan")
        assert(cols.intersect(Fixture.DataCols).isEmpty)
      }
    }
  }
}
