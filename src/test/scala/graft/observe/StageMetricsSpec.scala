package graft.observe

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.TestSpark

class StageMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("listener reports stage progress") {
    val (_, m) = StageMetrics.measure(spark)(spark.range(0, 1000000, 1, 8).selectExpr("sum(id)").collect())
    assert(m.events.nonEmpty)
    assert(m.events.forall(_.matches("""\[stage \d+\] \d+/\d+ tasks \(\d+%\)""")), m.events)
    // every stage's last line reports all of its tasks done
    assert(m.stages.forall(s => m.events.contains(s"[stage ${s.id}] ${s.tasksTotal}/${s.tasksTotal} tasks (100%)")),
      m.events)
  }

  test("a window's totals are the sum of its stage rows") {
    val (_, m) = StageMetrics.measure(spark) {
      spark.range(0, 200000, 1, 8).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    }
    assert(m.stages.size >= 2, m.stages) // the scan and the aggregate after the shuffle
    assert(m.totals == m.stages.foldLeft(StageMetrics.Stage())(_ + _))
    assert(m.totals.shuffleWriteRecords > 0 && m.totals.shuffleReadRecords == m.totals.shuffleWriteRecords,
      m.totals)
    assert(m.totals.cpuNs > 0 && m.totals.taskMs >= 0)
  }

  test("a window sees a file-stream query's tasks, which run under the query's own job group") {
    val in = java.nio.file.Files.createTempDirectory("graft_sm_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sm_ckpt").toString
    val rows = spark.range(0, 500).selectExpr("id", "id * 2 AS v")
    rows.write.mode("overwrite").parquet(in)
    val (q, m) = StageMetrics.measure(spark) {
      val q = spark.readStream.schema(rows.schema).parquet(in)
        .writeStream.format("noop").option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    val streamJobs = m.jobs.filter(_.group.contains(q.runId.toString))
    assert(streamJobs.nonEmpty, m.jobs)
    // no job of the window ran in the caller's group: a window scoped to
    // it would have seen none of the batch's work
    assert(m.jobs.forall(_.group.isDefined), m.jobs)
    assert(m.totals.inputRecords == 500, m.totals)
  }

  test("metrics read right after measure returns count every task") {
    // a query listener that holds the shared listener queue for a second
    // at the end of each SQL execution, so the job after it still has its
    // events queued when the block returns
    val slow = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = Thread.sleep(1000)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    val (_, m) = try StageMetrics.measure(spark) {
      spark.range(0, 10, 1, 2).collect()
      spark.sparkContext.parallelize(1 to 1000, 16).count()
    } finally spark.listenerManager.unregister(slow)
    val last = m.stages.last
    assert(last.tasksDone == 16 && last.tasksTotal == 16, m.stages)
    assert(m.stages.forall(s => s.tasksDone == s.tasksTotal), m.stages)
    assert(m.totals.tasksDone == m.totals.tasksTotal)
  }
}
