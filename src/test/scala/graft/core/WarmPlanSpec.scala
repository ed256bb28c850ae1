package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import graft.TestSpark
import graft.queries.Fixture

/** "Diff never moves full rows" ([[Diff]]), pinned on the path that runs:
  * the warm classify against a signature state committed by
  * [[Pipeline.commitVersioned]] shuffles (key, sig) projections only —
  * no Exchange in the plan carries a data column. And warm derives each
  * delta once: the next state comes from the classify, not from a second
  * source fetch, and no semi/anti join re-deduplicates its key side.
  * Each commit write removes one delta-key set from its old rows, so no
  * broadcast build side re-reads the source.
  */
class WarmPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
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

  /** Every node of `plan`, with each cached-frame scan expanded into the
    * plan that fills the cache.
    */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan.flatMap {
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case p => Seq(p)
  }

  test("warm derives each delta once: state from the classify, no aggregate on a semi/anti build side") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warm_once").toString
    val i = Fixture.internal(spark, TestSpark.Sf)
    Fixture.external(spark, TestSpark.Sf).write.parquet(s"$dir/source")
    val e = spark.read.parquet(s"$dir/source")
    val cold = Pipeline.warm(i.limit(0), i, Fixture.Key, Fixture.DataCols)
    try Pipeline.commitVersioned(cold, s"$dir/t", Pipeline.SnapshotLayout.Zordered(Fixture.Key))
    finally cold.release()
    withSMJ {
      val r = Pipeline.warm(Pipeline.readLatest(spark, s"$dir/t", "snapshot"), e,
        Fixture.Key, Fixture.DataCols, state = Some(Pipeline.readLatest(spark, s"$dir/t", "state")))
      try {
        // the next state reads the committed state and the persisted
        // classify only: the source is neither fetched nor re-hashed
        val statePlan = r.newState.queryExecution.executedPlan
        val scanned = statePlan.collect { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString) }.flatten
        assert(scanned.nonEmpty && scanned.forall(_.contains(s"$dir/t/state")),
          s"newState scans ${scanned.mkString(", ")}:\n$statePlan")
        for ((name, df) <- Seq("changelog" -> r.changelog, "newSnapshot" -> r.newSnapshot)) {
          val plan = df.queryExecution.executedPlan
          val semiAnti = nodes(plan).collect {
            case j: BaseJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti => j }
          assert(semiAnti.nonEmpty, s"$name: no semi/anti join:\n$plan")
          for (j <- semiAnti)
            assert(j.right.collect { case a: BaseAggregateExec => a }.isEmpty,
              s"$name: aggregate under a ${j.joinType} build side:\n$j")
        }
      } finally r.release()
    }
  }

  test("commit writes broadcast delta keys only: none scans the source, the state builds one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warm_bcast").toString
    val i = Fixture.internal(spark, TestSpark.Sf)
    Fixture.external(spark, TestSpark.Sf).write.parquet(s"$dir/source")
    val e = spark.read.parquet(s"$dir/source")
    val cold = Pipeline.warm(i.limit(0), i, Fixture.Key, Fixture.DataCols)
    try Pipeline.commitVersioned(cold, s"$dir/t", Pipeline.SnapshotLayout.Zordered(Fixture.Key))
    finally cold.release()
    val r = Pipeline.warm(Pipeline.readLatest(spark, s"$dir/t", "snapshot"), e,
      Fixture.Key, Fixture.DataCols, state = Some(Pipeline.readLatest(spark, s"$dir/t", "state")))
    try {
      // the session's own posture (AQE on, default broadcast threshold):
      // run each frame, then read the broadcasts off its final plan; a
      // cached frame's scan counts as a scan of the cache, not its sources
      def broadcasts(df: org.apache.spark.sql.DataFrame): Seq[BroadcastExchangeLike] = {
        df.collect()
        collect(df.queryExecution.executedPlan) { case b: BroadcastExchangeLike => b }
      }
      def scansSource(p: SparkPlan) = collect(p) { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString) }.flatten.exists(_.contains(s"$dir/source"))
      val snap = broadcasts(r.newSnapshot)
      assert(snap.nonEmpty, "the fixture's delta keys should broadcast")
      assert(!snap.exists(scansSource), s"a snapshot broadcast scans the source:\n${snap.mkString("\n")}")
      val state = broadcasts(r.newState)
      assert(state.size == 1, s"state broadcasts:\n${state.mkString("\n")}")
    } finally r.release()
  }
}
