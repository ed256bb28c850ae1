package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Fixture

/** End-to-end lifecycle: cold parallel extract of three tables, warm
  * incremental second run, post-update aggregates — the reference's whole
  * `run()` (start.py:44-60) in one flow.
  */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cold run, warm delta run, and post-update aggregates") {
    val base = java.nio.file.Files.createTempDirectory("graft_run").toString
    val d = TestSpark.Sf

    def sources(liQuantityBump: Boolean) = Seq(
      Runner.Source("lineitem",
        () => {
          val e = Fixture.external(spark, d)
          if (liQuantityBump) e.withColumn("l_quantity", col("l_quantity") + 1) else e
        },
        Fixture.Key, Fixture.DataCols),
      Runner.Source("orders", () => Tables.load(spark, d, "orders"),
        Seq("o_orderkey"), Seq("o_custkey", "o_orderstatus", "o_totalprice")),
      Runner.Source("customer", () => Tables.load(spark, d, "customer"),
        Seq("c_custkey"), Seq("c_name", "c_nationkey", "c_acctbal")))

    // run 1: cold — everything lands as v1
    val v1 = Runner.extractAll(spark, sources(liQuantityBump = false), base)
    assert(v1 == Map("lineitem" -> 1L, "orders" -> 1L, "customer" -> 1L))
    val liSnap = Pipeline.readLatest(spark, base + "/lineitem", "snapshot")
    assert(liSnap.count() == Fixture.external(spark, d).count())

    // run 2: warm — lineitem rows all changed, other tables unchanged
    val v2 = Runner.extractAll(spark, sources(liQuantityBump = true), base)
    assert(v2 == Map("lineitem" -> 2L, "orders" -> 2L, "customer" -> 2L))
    val clog = Pipeline.readChangelog(spark, base + "/lineitem").filter("v = 2")
    assert(clog.count() == liSnap.count()) // every row's old version captured
    assert(Pipeline.readChangelog(spark, base + "/orders").filter("v = 2").count() == 0)

    // post-update on a fresh dir: per-nation aggregates over the committed
    // customer snapshot, built in full
    val delta = Tables.load(spark, d, "orders")
      .filter(col("o_orderkey") % 10 === 0).select("o_custkey").distinct()
    val customers = Pipeline.readLatest(spark, base + "/customer", "snapshot")
    Runner.postUpdateIncremental(spark, base,
      Tables.load(spark, d, "nation"), customers, customers,
      Pipeline.readLatest(spark, base + "/orders", "snapshot"),
      delta, delta, "n_nationkey", "c_nationkey", "c_custkey", "o_custkey",
      Seq("o_totalprice"))
    val stats = spark.read.parquet(base + "/tribe_stats")
    assert(stats.count() == 25)
    assert(stats.columns.toSet == Set("n_nationkey", "members", "active", "o_totalprice"))
  }

  test("default commit layout is z-ordered on the key: post-commit keyed scans prune files") {
    val base = java.nio.file.Files.createTempDirectory("graft_zcommit").toString
    val d = TestSpark.Sf
    Runner.extractAll(spark, Seq(Runner.Source("lineitem",
      () => Fixture.external(spark, d), Fixture.Key, Fixture.DataCols)), base)
    val snap = Pipeline.readLatest(spark, base + "/lineitem", "snapshot")
    assert(snap.count() == Fixture.external(spark, d).count())
    val total = snap.select(input_file_name()).distinct().count()
    assert(total >= 2, s"need multiple committed files to prove pruning ($total)")
    // a narrow range on the LEADING key column must touch few files —
    // the z curve keeps min/max stats tight on every key column
    val cut = snap.agg(expr("percentile(l_orderkey, 0.05)")).head().getDouble(0).toLong
    val touched = snap.filter(col("l_orderkey") <= cut)
      .select(input_file_name()).distinct().count()
    assert(touched < total,
      s"keyed scan did not prune the committed snapshot's files ($touched/$total)")
    // and the predicate itself reaches the parquet scan (row-group skip)
    val plan = snap.filter(col("l_orderkey") <= cut)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("LessThanOrEqual(l_orderkey"),
      s"key predicate must be pushed to the committed-snapshot scan:\n${plan.take(1200)}")
  }

  test("name normalization inside extract: committed, and never churns the diff") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_norm").toString
    def src(aliceElo: Int) = Seq(Runner.Source("player",
      () => Seq((1L, "alice", aliceElo), (2L, "bob#1234", 20), (3L, "carol", 30))
        .toDF("pid", "name", "elo"),
      key = Seq("pid"), dataCols = Seq("name", "elo"),
      // reference normalizes post-download INSIDE extract
      // (download.py:546-555), not as a separate query
      deriveFetched = Scores.normalizeNames(Seq("name"))))

    Runner.extractAll(spark, src(10), base)
    val cold = Pipeline.readLatest(spark, base + "/player", "snapshot")
      .select("name").as[String].collect().sorted
    assert(cold.toSeq == Seq("alice#0000", "bob#1234", "carol#0000"))

    // identical second run: the diff runs against the signature STATE
    // (raw source sigs), so the normalized snapshot names must NOT
    // re-classify anything changed — zero changelog rows at v=2
    Runner.extractAll(spark, src(10), base)
    assert(Pipeline.readChangelog(spark, base + "/player").filter("v = 2").count() == 0)

    // real change: alice's elo moves; the re-fetched row re-normalizes
    Runner.extractAll(spark, src(99), base)
    val warm = Pipeline.readLatest(spark, base + "/player", "snapshot")
    assert(Pipeline.readChangelog(spark, base + "/player").filter("v = 3").count() == 1)
    assert(warm.filter(col("name") === "alice#0000").select("elo").as[Int].head() == 99)
    assert(warm.count() == 3)
  }

  test("postUpdateIncremental: equals full rebuild, carries over untouched tribes") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_inc_pu").toString
    val tribe = Seq(10, 20, 30).toDF("t_id")
    val oldM = Seq((1, 10), (2, 20), (3, 30)).toDF("m_id", "m_tribe")
    val facts0 = Seq((1, 5.0), (2, 7.0), (3, 9.0)).toDF("p_id", "stat")
    // cold: no previous aggregates -> full rebuild fallback
    Runner.postUpdateIncremental(spark, base, tribe, oldM, oldM, facts0,
      Seq(1).toDF("k"), Seq(1).toDF("k"),
      "t_id", "m_tribe", "m_id", "p_id", Seq("stat"))
    assert(spark.read.parquet(base + "/tribe_stats").count() == 3)

    // warm: member 1 changed (tribe 10 affected); tribes 20/30 untouched
    val facts1 = Seq((1, 6.0), (2, 7.0), (3, 9.0)).toDF("p_id", "stat")
    Runner.postUpdateIncremental(spark, base, tribe, oldM, oldM, facts1,
      Seq(1).toDF("k"), Seq(1).toDF("k"),
      "t_id", "m_tribe", "m_id", "p_id", Seq("stat"))
    val inc = spark.read.parquet(base + "/tribe_stats")
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val full = TribeAgg.tribeStats(tribe, oldM, facts1, Seq(1).toDF("k"),
      "t_id", "m_tribe", "m_id", "p_id", Seq("stat"), None)
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(inc == full)
    assert(inc(10)._2 == 6.0 && inc(10)._1 == 1L) // recomputed, active
    assert(inc(20) == ((0L, 7.0)))                // carried over, active reset
  }

  /** Inputs of one post_update call over a fixed three-tribe dimension. */
  private final case class PostUpdateIn(oldMembers: DataFrame, members: DataFrame,
                                        facts: DataFrame, active: DataFrame,
                                        touched: DataFrame)

  private def postUpdate(base: String, in: PostUpdateIn): Unit = {
    import spark.implicits._
    Runner.postUpdateIncremental(spark, base, Seq(10, 20, 30).toDF("t_id"),
      in.oldMembers, in.members, in.facts, in.active, in.touched,
      "t_id", "m_tribe", "m_id", "p_id", Seq("stat"))
  }

  /** `df` with its first column routed through a UDF that throws: any job
    * that reads it fails inside its tasks, after the write it feeds began.
    * The shuffle keeps the optimizer from evaluating the UDF over the local
    * rows while it plans the write.
    */
  private def failing(df: DataFrame): DataFrame = {
    val boom = udf((x: Int) =>
      if (x != Int.MinValue) throw new IllegalStateException("injected crash") else x)
      .asNondeterministic()
    df.repartition(2).withColumn(df.columns.head, boom(col(df.columns.head)))
  }

  private def aggRows(base: String, table: String): Set[Seq[Any]] =
    spark.read.parquet(s"$base/$table").collect().map(_.toSeq).toSet

  /** Leaves under `base` what a crash of `postUpdate(base, in)` leaves;
    * `ref` holds the tables of that call run uninterrupted.
    */
  private type Crash = (String, PostUpdateIn, String) => Unit

  /** Post_update crash points. A crash inside a staged write is a job that
    * fails on the input only that table reads (`activeKeys` for
    * tribe_active, `facts` for tribe_stats); a killed job, unlike an
    * aborted one, leaves `_temporary/0` in the directory it was writing, so
    * that is put back. The crashes after the writes copy an uninterrupted
    * run's tables (`ref`) into the step's directories. The last point is the
    * state a writer that overwrote the live directories in place left when
    * killed inside a first run's tribe_stats write: every later call failed
    * reading the half-written directory.
    */
  private val crashPoints: Seq[(String, Crash)] = {
    import java.nio.file.{Files, Path, Paths}
    def p(d: String, n: String): Path = Paths.get(d, n)
    def killed(base: String, dir: String): Unit = Files.createDirectories(p(base, s"$dir/_temporary/0"))
    def copy(ref: String, table: String, base: String, as: String): Unit = {
      Pipeline.deleteRecursively(p(base, as))
      Files.createDirectories(p(base, as))
      val l = Files.list(p(ref, table))
      try l.forEach(f => Files.copy(f, p(base, as).resolve(f.getFileName)))
      finally l.close()
    }
    def marker(base: String): Unit = Files.writeString(p(base, "_agg_swap_incomplete"), "swap")
    Seq(
      "inside the staged tribe_active write" -> ((base: String, in: PostUpdateIn, _: String) => {
        intercept[Exception](postUpdate(base, in.copy(active = failing(in.active))))
        killed(base, "tribe_active.next")
      }),
      "inside the staged tribe_stats write" -> ((base: String, in: PostUpdateIn, _: String) => {
        intercept[Exception](postUpdate(base, in.copy(facts = failing(in.facts))))
        killed(base, "tribe_stats.next")
      }),
      "after the marker" -> ((base: String, _: PostUpdateIn, ref: String) => {
        copy(ref, "tribe_active", base, "tribe_active.next")
        copy(ref, "tribe_stats", base, "tribe_stats.next")
        marker(base)
      }),
      "between the two swaps" -> ((base: String, _: PostUpdateIn, ref: String) => {
        copy(ref, "tribe_active", base, "tribe_active")
        copy(ref, "tribe_stats", base, "tribe_stats.next")
        marker(base)
      }),
      "after both swaps, before the marker is cleared" -> ((base: String, _: PostUpdateIn, ref: String) => {
        copy(ref, "tribe_active", base, "tribe_active")
        copy(ref, "tribe_stats", base, "tribe_stats")
        marker(base)
      }),
      "inside an in-place tribe_stats write, no marker" -> ((base: String, _: PostUpdateIn, ref: String) => {
        copy(ref, "tribe_active", base, "tribe_active")
        Pipeline.deleteRecursively(p(base, "tribe_stats"))
        killed(base, "tribe_stats")
      }))
  }

  /** Three runs' inputs: a cold one; member 3 moves to tribe 20 and member
    * 1's stat changes; member 2's stat changes.
    */
  private lazy val cycles: Seq[PostUpdateIn] = {
    import spark.implicits._
    val m0 = Seq((1, 10), (2, 20), (3, 30)).toDF("m_id", "m_tribe")
    val m1 = Seq((1, 10), (2, 20), (3, 20)).toDF("m_id", "m_tribe")
    Seq(PostUpdateIn(m0, m0, Seq((1, 5.0), (2, 7.0), (3, 9.0)).toDF("p_id", "stat"),
        Seq(1, 2, 3).toDF("k"), Seq(1, 2, 3).toDF("k")),
      PostUpdateIn(m0, m1, Seq((1, 6.0), (2, 7.0), (3, 9.0)).toDF("p_id", "stat"),
        Seq(1).toDF("k"), Seq(3).toDF("k")),
      PostUpdateIn(m1, m1, Seq((1, 6.0), (2, 8.0), (3, 9.0)).toDF("p_id", "stat"),
        Seq(2).toDF("k"), Seq(2).toDF("k")))
  }

  // Before the marker the previous pair is intact and the crashed call is
  // retried. With the marker left behind, the next call is the following
  // run, with its own delta: only the full rebuild the marker forces gives
  // the uninterrupted tables, since carrying over rows from a pair a run
  // behind would miss the crashed run's delta.
  for ((run, warm) <- Seq("first" -> false, "warm" -> true); (point, crash) <- crashPoints)
    test(s"post_update crash on a $run run, $point: the next call equals an uninterrupted run") {
      import java.nio.file.{Files, Paths}
      val (prior, in, following) = if (warm) (cycles.take(1), cycles(1), cycles(2))
        else (Nil, cycles(0), cycles(1))
      def dir(n: String) = Files.createTempDirectory(s"graft_pu_$n").toString
      val (base, ref) = (dir("crash"), dir("ref"))
      for (d <- Seq(base, ref); c <- prior) postUpdate(d, c)
      def live = Seq("tribe_active", "tribe_stats").map { t =>
        t -> Option(Paths.get(base, t).toFile.list()).map(_.toSet)
      }
      val before = live
      postUpdate(ref, in)
      crash(base, in, ref)
      val crashed = live
      val marker = Paths.get(base, "_agg_swap_incomplete")
      val next = if (Files.exists(marker)) { postUpdate(ref, following); following } else in
      postUpdate(base, next)
      for (t <- Seq("tribe_active", "tribe_stats"))
        assert(aggRows(base, t) == aggRows(ref, t), s"$t after recovery")
      assert(!Files.exists(marker))
      if (point.startsWith("inside the staged"))
        assert(crashed == before, "a crashed staged write must leave the live directories as they were")
    }

  test("postUpdateIncremental: interrupted swap marker forces a full rebuild") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_inc_marker").toString
    val tribe = Seq(10, 20).toDF("t_id")
    val m = Seq((1, 10), (2, 20)).toDF("m_id", "m_tribe")
    val facts = Seq((1, 5.0), (2, 7.0)).toDF("p_id", "stat")
    Runner.postUpdateIncremental(spark, base, tribe, m, m, facts,
      Seq(1).toDF("k"), Seq(1).toDF("k"), "t_id", "m_tribe", "m_id", "p_id", Seq("stat"))
    // simulate a crash between the two directory swaps
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base + "/_agg_swap_incomplete"), "swap")
    val facts2 = Seq((1, 6.0), (2, 8.0)).toDF("p_id", "stat")
    Runner.postUpdateIncremental(spark, base, tribe, m, m, facts2,
      Seq(1).toDF("k"), Seq(1).toDF("k"), "t_id", "m_tribe", "m_id", "p_id", Seq("stat"))
    // full rebuild ran: BOTH tribes reflect facts2, marker cleared
    val stats = spark.read.parquet(base + "/tribe_stats")
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(stats == Map(10 -> 6.0, 20 -> 8.0))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(base + "/_agg_swap_incomplete")))
  }


  test("postUpdateIncremental: in-place change with no membership move still counts active") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_inc_active").toString
    val tribe = Seq(10, 20).toDF("t_id")
    val m = Seq((1, 10), (2, 20)).toDF("m_id", "m_tribe")
    val facts = Seq((1, 5.0), (2, 7.0)).toDF("p_id", "stat")
    Runner.postUpdateIncremental(spark, base, tribe, m, m, facts,
      Seq(1).toDF("k"), Seq(1).toDF("k"), "t_id", "m_tribe", "m_id", "p_id", Seq("stat"))
    // member 2 changed IN PLACE: activeKeys has it, touchedKeys (membership
    // delta) is EMPTY — tribe 20 must still be recomputed as active
    Runner.postUpdateIncremental(spark, base, tribe, m, m, facts,
      Seq(2).toDF("k"), Seq.empty[Int].toDF("k"),
      "t_id", "m_tribe", "m_id", "p_id", Seq("stat"))
    val active = spark.read.parquet(base + "/tribe_active")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(active == Map(10 -> 0L, 20 -> 1L))
  }
}
