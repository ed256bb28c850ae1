package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Diff, Pipeline, Runner, Scores, TribeAgg}
import Recorder.LayerOp

/** `cdc_warm`: warm replication cycles. Three source tables as in the
  * reference's run (a large `player` table whose fetched rows get name
  * normalization, a `member` table mapping members to tribes, a small
  * `tribe` table) replicate through `Runner.extractAll`, then
  * `Runner.postUpdateIncremental` rebuilds the per-tribe aggregates and
  * `Runner.maintain` vacuums and compacts. One operator, closed loop: the
  * next cycle's source is generated only after the previous cycle ends.
  *
  * The traffic is assumed, not taken from the reference, which publishes
  * no sizes or churn: 100k players, members = players / 2, tribes =
  * players / 100, 8 of the reference's stat counters, a quarter of the
  * names carrying a `#` discriminator. Churn per warm cycle and table: 1%
  * of keys change, 0.5% are added at the top of the id range
  * (auto-increment) and 0.5% are deleted, far under the 100k delete
  * breaker. Changed and deleted keys favour recent ids: key rank from the
  * top is `N * u^3` for uniform `u`, so half the picks fall in the top
  * eighth of the id range.
  */
object CdcWarm {
  val Players = 100000
  val SelfTestPlayers = 3000
  val KeepVersions = 2
  val StatCols: Seq[String] = Seq("cheese_gathered", "first", "round_played", "shaman_cheese",
    "saved_mice", "saved_mice_hard", "saved_mice_divine", "survivor_round_played")

  /** One source table: schema, initial size, and the row generator. A
    * row's data is a function of (seed, key, gen), where `gen` is the
    * cycle that last changed it; every table carries it as its `rev`
    * column, so a planted change always changes the row.
    */
  final case class Table(name: String, key: String, dataCols: Seq[String], size: Int,
                         derive: DataFrame => DataFrame, rows: Long => Seq[Column])

  def tables(players: Int): Seq[Table] = {
    val tribes = math.max(10, players / 100)
    def h(seed: Long, k: Int) = xxhash64(lit(seed), col("id"), col("gen"), lit(k))
    def small(seed: Long, k: Int, bound: Long) = pmod(h(seed, k), lit(bound)).cast("int")
    Seq(
      Table("player", "id", Seq("name", "rev") ++ StatCols, players, Scores.normalizeNames(Seq("name")),
        seed => {
          // a quarter of the names carry a discriminator; the rest get
          // "#0000" appended by the fetched-row normalization
          val base = concat(lit("p"), hex(pmod(h(seed, 0), lit(1L << 40))))
          val name = when(pmod(h(seed, 1), lit(4L)) === 0,
            concat(base, lit("#"), lpad(pmod(h(seed, 2), lit(10000L)).cast("string"), 4, "0")))
            .otherwise(base)
          name.as("name") +: StatCols.zipWithIndex.map { case (c, i) =>
            small(seed, 10 + i, 100000L).as(c) }
        }),
      Table("member", "id_member", Seq("member_tribe", "rev"), players / 2, identity,
        seed => Seq((small(seed, 30, tribes.toLong) + 1).as("member_tribe"))),
      Table("tribe", "id_tribe", Seq("tag", "level", "rev"), tribes, identity,
        seed => Seq(hex(pmod(h(seed, 40), lit(1L << 24))).as("tag"),
          small(seed, 41, 50L).as("level"))))
  }

  /** Planted churn of one table in one cycle. */
  final case class Churn(changed: Array[Long], added: Array[Long], deleted: Array[Long])

  /** The seeded source generator: live key sets on the driver, one parquet
    * directory per (table, cycle).
    */
  final class Source(spark: SparkSession, seed: Long, val root: String, players: Int) {
    import spark.implicits._
    val specs: Seq[Table] = tables(players)
    private val live = specs.map(t => t.name -> {
      val b = new java.util.BitSet(); b.set(1, t.size + 1); b }).toMap
    private val maxId = mutable.Map(specs.map(t => t.name -> t.size.toLong): _*)
    var cycle = 0

    def dir(table: String, c: Int = cycle): String = s"$root/${table}/c=$c"

    private def generate(t: Table, ids: DataFrame): DataFrame =
      ids.select(col("id").as(t.key) +: col("gen").as("rev") +: t.rows(seed): _*)

    def writeInitial(): Unit = for (t <- specs) {
      val ids = spark.range(1, t.size + 1L).select(col("id"), lit(0).as("gen"))
      generate(t, ids).write.mode("overwrite").parquet(dir(t.name))
    }

    /** Advance every table by one cycle of planted churn; returns it. */
    def advance(): Map[String, Churn] = {
      cycle += 1
      specs.zipWithIndex.map { case (t, ti) =>
        val rng = new java.util.Random(seed * 1000003L + cycle * 7919L + ti)
        val b = live(t.name)
        val top = maxId(t.name)
        val chosen = mutable.LinkedHashSet.empty[Long]
        def pick(n: Int): Array[Long] = {
          val out = mutable.ArrayBuffer.empty[Long]
          while (out.size < n) {
            val u = rng.nextDouble()
            val id = top - (top * u * u * u).toLong
            if (id >= 1 && b.get(id.toInt) && chosen.add(id)) out += id
          }
          out.toArray
        }
        val changed = pick(t.size / 100)
        val deleted = pick(t.size / 200)
        val added = Array.tabulate(t.size / 200)(i => top + 1 + i)
        deleted.foreach(id => b.clear(id.toInt))
        added.foreach(id => b.set(id.toInt))
        maxId(t.name) = top + added.length
        val prev = spark.read.parquet(dir(t.name, cycle - 1))
        val drop = (changed ++ deleted).toSeq.toDF(t.key)
        val fresh = generate(t, (changed ++ added).toSeq.toDF("id").withColumn("gen", lit(cycle)))
        prev.join(broadcast(drop), Seq(t.key), "left_anti").unionByName(fresh)
          .coalesce(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dir(t.name))
        if (cycle >= 2) Ctx.rmrf(dir(t.name, cycle - 2))
        t.name -> Churn(changed, added, deleted)
      }.toMap
    }

    def liveKeys(table: String): Int = live(table).cardinality()

    def runnerSources: Seq[Runner.Source] = specs.map { t =>
      val d = dir(t.name)
      Runner.Source(t.name, () => spark.read.parquet(d), Seq(t.key), t.dataCols, t.derive)
    }
  }

  /** Runner.extractAll's public per-table sequence, replayed one thread per
    * table as Pipeline.runParallel runs it, so that each call carries its
    * own job group: currentVersion/readLatest, Pipeline.warm,
    * commitVersioned with extractAll's default z-order layout, release.
    * [[selfTest]] checks that it commits what extractAll commits.
    */
  def replay(ctx: Ctx, sources: Seq[Runner.Source], baseDir: String,
             parent: Long, op: String): Map[String, Long] = {
    val spark = ctx.spark
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sources.size)
    try sources.map { src =>
      pool.submit(new java.util.concurrent.Callable[(String, Long)] {
        def call(): (String, Long) = ctx.rec.span(src.name, parent, op) { tid =>
          val external = src.load()
          val dir = s"$baseDir/${src.name}"
          val r = ctx.rec.call("warm", s"$op.${src.name}", tid, op) {
            val (internal, state) = Pipeline.currentVersion(dir) match {
              case Some(_) => (Pipeline.readLatest(spark, dir, "snapshot"),
                Pipeline.readLatest(spark, dir, "state"))
              case None => (src.deriveFetched(external).limit(0),
                Diff.sigTable(external, src.key, src.dataCols).limit(0))
            }
            Pipeline.warm(internal, external, src.key, src.dataCols,
              Pipeline.DefaultMaxDeletes, src.deriveFetched, state = Some(state))
          }
          try src.name -> ctx.rec.call("commit", s"$op.${src.name}", tid, op) {
            Pipeline.commitVersioned(r, dir, Pipeline.SnapshotLayout.Zordered(src.key))
          }
          finally r.release()
        }
      })
    }.map(_.get()).toMap
    finally pool.shutdownNow()
  }

  final case class PostUpdateIn(tribe: DataFrame, oldMembers: DataFrame, members: DataFrame,
                                facts: DataFrame, active: DataFrame, touched: DataFrame)

  /** Inputs of post_update once version `v` is committed, built by the
    * harness outside every timed and stage-counted section. At the cold
    * load (no churn) every key is active. After a warm cycle the delta keys
    * are the planted churn, which [[checkCycle]] checks against the
    * committed states: active players are the changed and new ones.
    *
    * `Runner.postUpdateIncremental` invalidates a tribe only through the
    * member keys it is given as active or touched. Besides the member
    * delta, two more kinds of member leave a tribe's aggregate and are
    * passed as touched: members whose player row was deleted, and members
    * of a deleted tribe. Without them the stale aggregate row is carried
    * over.
    */
  def postUpdateIn(spark: SparkSession, replica: String, v: Long,
                   churn: Map[String, Churn]): PostUpdateIn = {
    import spark.implicits._
    def latest(t: String) = Pipeline.readLatest(spark, s"$replica/$t", "snapshot")
    val members = latest("member")
    val facts = latest("player")
    if (churn.isEmpty) return PostUpdateIn(latest("tribe"), members, members, facts,
      facts.select("id"), members.select("id_member"))
    def all(c: Churn) = c.changed ++ c.added ++ c.deleted
    val oldMembers = Pipeline.readVersion(spark, s"$replica/member", "snapshot", v - 1)
    val orphaned = oldMembers.filter(col("member_tribe").isin(churn("tribe").deleted.toSeq: _*))
      .select("id_member").as[Long].collect()
    val touched = (all(churn("member")) ++ all(churn("player")) ++ orphaned).distinct
    PostUpdateIn(latest("tribe"), oldMembers, members, facts,
      (churn("player").changed ++ churn("player").added).toSeq.toDF("id"), touched.toSeq.toDF("id_member"))
  }

  def postUpdate(spark: SparkSession, replica: String, in: PostUpdateIn): Unit =
    Runner.postUpdateIncremental(spark, replica, in.tribe, in.oldMembers, in.members, in.facts,
      in.active, in.touched, "id_tribe", "member_tribe", "id_member", "id", StatCols)

  def maintain(spark: SparkSession, replica: String, specs: Seq[Table]): Unit =
    specs.foreach(t => Runner.maintain(spark, s"$replica/${t.name}", Seq(t.key), KeepVersions))

  /** (changed, new, deleted) between committed states `v - 1` and `v`. */
  def kindCounts(spark: SparkSession, tableDir: String, key: String, v: Long): (Long, Long, Long) = {
    val n = Pipeline.readVersion(spark, tableDir, "state", v).select(col(key), col(Diff.SigCol).as("n"))
    val o = Pipeline.readVersion(spark, tableDir, "state", v - 1).select(col(key), col(Diff.SigCol).as("o"))
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val r = o.join(n, Seq(key), "full_outer").agg(
      cnt(col("o").isNotNull && col("n").isNotNull && col("o") =!= col("n")),
      cnt(col("o").isNull), cnt(col("n").isNull)).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def snapshotFiles(tableDir: String, v: Long): Int = {
    val d = new java.io.File(s"$tableDir/snapshot/v=$v")
    Option(d.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
  }

  /** The replay self-test, run at the start of every traced run: on a
    * small input, a cold load and one warm cycle through Runner.extractAll
    * and through [[replay]] must commit the same versions, kind counts,
    * changelogs, snapshot and state checksums, and snapshot file counts.
    */
  def selfTest(ctx: Ctx, players: Int): Unit = {
    val spark = ctx.spark
    val src = new Source(spark, ctx.seed, ctx.dir("selftest", "src"), players)
    src.writeInitial()
    val (a, b) = (ctx.dir("selftest", "extractAll"), ctx.dir("selftest", "replay"))
    for (c <- 0 to 1) {
      val churn = if (c > 0) src.advance() else Map.empty[String, Churn]
      val va = Runner.extractAll(spark, src.runnerSources, a)
      val vb = replay(ctx, src.runnerSources, b, 0L, s"selftest$c")
      ctx.checkEq(s"self-test cycle $c: versions")(vb, va)
      for (t <- src.specs; v <- va.get(t.name)) {
        val (da, db) = (s"$a/${t.name}", s"$b/${t.name}")
        def sum(d: String, what: String) =
          Ctx.checksum(Pipeline.readVersion(spark, d, what, v), Seq(t.key) ++
            (if (what == "state") Seq(Diff.SigCol) else t.dataCols))
        val at = s"self-test cycle $c ${t.name}"
        ctx.checkEq(s"$at: snapshot checksum")(sum(db, "snapshot"), sum(da, "snapshot"))
        ctx.checkEq(s"$at: state checksum")(sum(db, "state"), sum(da, "state"))
        ctx.checkEq(s"$at: snapshot files")(snapshotFiles(db, v), snapshotFiles(da, v))
        ctx.checkEq(s"$at: changelog rows")(
          Pipeline.readChangelog(spark, db).filter(col("v") === v).count(),
          Pipeline.readChangelog(spark, da).filter(col("v") === v).count())
        if (v > 1) ctx.checkEq(s"$at: kind counts")(
          kindCounts(spark, db, t.key, v), kindCounts(spark, da, t.key, v))
      }
      // compile the post_update and maintenance paths too
      postUpdate(spark, a, postUpdateIn(spark, a, va("player"), churn))
      if (c > 0) maintain(spark, a, src.specs)
    }
  }

  /** Per-cycle output checks: kind counts and changelog rows against the
    * planted churn.
    */
  def checkCycle(ctx: Ctx, src: Source, replica: String, v: Long, churn: Map[String, Churn]): Unit =
    for (t <- src.specs) {
      val d = s"$replica/${t.name}"
      val ch = churn(t.name)
      val at = s"cycle v=$v ${t.name}"
      ctx.checkEq(s"$at: kind counts (changed, new, deleted)")(kindCounts(ctx.spark, d, t.key, v),
        (ch.changed.length.toLong, ch.added.length.toLong, ch.deleted.length.toLong))
      ctx.checkEq(s"$at: changelog rows")(
        Pipeline.readChangelog(ctx.spark, d).filter(col("v") === v).count(), ch.changed.length.toLong)
    }

  /** End-of-run checks: every committed snapshot equals deriveFetched of
    * its source, by checksum, and tribe_stats equals a full
    * TribeAgg.tribeStats recompute over the last cycle's inputs.
    */
  def checkFinal(ctx: Ctx, src: Source, replica: String, in: PostUpdateIn): Unit = {
    for (t <- src.specs) {
      val cols = t.key +: t.dataCols
      ctx.checkEq(s"final ${t.name}: snapshot checksum equals deriveFetched(source)")(
        Ctx.checksum(Pipeline.readLatest(ctx.spark, s"$replica/${t.name}", "snapshot"), cols),
        Ctx.checksum(t.derive(ctx.spark.read.parquet(src.dir(t.name))), cols))
    }
    val cols = "id_tribe" +: "members" +: "active" +: StatCols
    def rows(df: DataFrame) = df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    ctx.checkEq("final: tribe_stats equals a full TribeAgg.tribeStats recompute")(
      rows(ctx.spark.read.parquet(s"$replica/tribe_stats")),
      rows(TribeAgg.tribeStats(in.tribe, in.members, in.facts, in.active,
        "id_tribe", "member_tribe", "id_member", "id", StatCols, None)))
  }

  final case class CycleStat(op: String, traced: Boolean, cycleS: Double, cpuS: Double,
                             stages: Long, maintainS: Double,
                             keys: Long, deltaRows: Long, writeAmp: Double)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // ---- set-up: input generation, three times, median
    val gens = (1 to 3).map { r =>
      val s = new Source(spark, ctx.seed, ctx.dir("cdc", s"gen$r"), Players)
      val t0 = System.nanoTime()
      s.writeInitial()
      (s, Ctx.seconds(t0))
    }
    gens.init.foreach(g => Ctx.rmrf(g._1.root))
    val src = gens.last._1
    val genS = Ctx.median(gens.map(_._2))
    if (ctx.trace) selfTest(ctx, SelfTestPlayers)

    // ---- cold load: the first extractAll on an empty replica
    val replica = ctx.dir("cdc", "replica")
    val (cold, coldCost) = ctx.measure(ctx.op(ctx.rec.span("cold_load", 0L, "cold")(_ =>
      Runner.extractAll(spark, src.runnerSources, replica))))
    ctx.checkEq("cold load: versions")(cold, src.specs.map(_.name -> 1L).toMap)

    // the first post_update builds the aggregates in full
    ctx.op(postUpdate(spark, replica, postUpdateIn(spark, replica, 1L, Map.empty)))

    // ---- warm cycles, closed loop, for the run's seconds. A traced run
    // runs one untraced cycle, then a traced one: the difference is the
    // tracing overhead.
    val srcBytesPerRow = src.specs.map(t =>
      t.name -> Ctx.bytesUnder(src.dir(t.name)).toDouble / t.size).toMap
    val stats = mutable.ArrayBuffer.empty[CycleStat]
    var in: PostUpdateIn = null
    var v = 1L
    val start = System.nanoTime()
    while (stats.size < (if (ctx.trace) 2 else 1) || Ctx.seconds(start) < ctx.seconds) {
      val churn = src.advance()
      v += 1
      val op = s"c$v"
      val traced = ctx.trace && stats.nonEmpty
      ctx.rec.setTracing(traced)
      val sinceMs = System.currentTimeMillis() - 1
      // a cycle is extractAll plus postUpdateIncremental, each measured on
      // its own: the harness builds post_update's inputs between them
      val (versions, extractCost) = ctx.measure(ctx.op(ctx.rec.span("extract", 0L, op) { eid =>
        if (traced) replay(ctx, src.runnerSources, replica, eid, op)
        else Runner.extractAll(spark, src.runnerSources, replica)
      }))
      in = postUpdateIn(spark, replica, v, churn)
      val (_, postCost) = ctx.measure(ctx.op(ctx.rec.call("post_update", op, 0L, op)(
        postUpdate(spark, replica, in))))
      val cycle = extractCost + postCost
      val written = Ctx.bytesWrittenSince(replica, sinceMs)
      ctx.checkEq(s"cycle v=$v: versions")(versions, src.specs.map(_.name -> v).toMap)
      checkCycle(ctx, src, replica, v, churn)
      val (_, maintainCost) = ctx.measure(
        ctx.op(ctx.rec.call("maintain", op, 0L, op)(maintain(spark, replica, src.specs))))
      def rowsOf(c: Churn) = c.changed.length + c.added.length + c.deleted.length
      val deltaBytes = src.specs.map(t => srcBytesPerRow(t.name) * rowsOf(churn(t.name))).sum
      val keys = src.specs.map(t => src.liveKeys(t.name).toLong + churn(t.name).deleted.length).sum
      stats += CycleStat(op, traced, cycle.wallS, cycle.cpuS, cycle.stages, maintainCost.wallS, keys,
        churn.values.map(rowsOf).sum, written / deltaBytes)
    }
    ctx.rec.setTracing(false)
    checkFinal(ctx, src, replica, in)

    val plain = stats.filterNot(_.traced).toSeq
    val cycleS = Ctx.median(plain.map(_.cycleS))
    val cycleCpuS = Ctx.median(plain.map(_.cpuS))
    val keysPerSCore = Ctx.median(plain.map(s => s.keys / s.cycleS / ctx.cores))
    val setupS = ctx.sessionS + genS
    val cycleStages = Ctx.median(plain.map(_.stages.toDouble))
    ctx.e2e("setup_s", setupS, "s")
    ctx.e2e("op_stages", cycleStages, "count")
    Seq("setup_s" -> (setupS, "s"), "session_s" -> (ctx.sessionS, "s"),
      "generate_s" -> (genS, "s"), "cold_load_s" -> (coldCost.wallS, "s"),
      "cold_load_cpu_s" -> (coldCost.cpuS, "s"), "cold_load_stages" -> (coldCost.stages.toDouble, "count"),
      "cycle_s" -> (cycleS, "s"), "cycle_cpu_s" -> (cycleCpuS, "s"),
      "cycle_stages" -> (cycleStages, "count"),
      "cycles" -> (plain.size.toDouble, "count"),
      "keys_per_s_core" -> (keysPerSCore, "1/s"),
      "reference_rows_per_s_core" -> (150000.0, "1/s"),
      "write_amp" -> (Ctx.median(plain.map(_.writeAmp)), "ratio"),
      "maintain_s" -> (Ctx.median(plain.map(_.maintainS)), "s"),
      "keys_per_cycle" -> (plain.head.keys.toDouble, "count"),
      "delta_rows_per_cycle" -> (plain.head.deltaRows.toDouble, "count"))
      .foreach { case (k, (x, u)) => ctx.report(k, x, u) }

    if (ctx.trace) {
      val traced = stats.filter(_.traced).toSeq
      def ops(layer: String) = traced.map { s =>
        val sp = ctx.rec.spansNamed(layer).filter(_.op == s.op)
        LayerOp(Recorder.unionLength(sp.map(x => (x.start, x.end))) / 1e9, sp.map(_.group))
      }
      Seq("warm", "commit", "post_update", "maintain").foreach(l => Recorder.reportLayer(ctx, l, ops(l)))
      def perDelta(layer: String, pick: ((Long, Long)) => Long) = Ctx.median(traced.zip(ops(layer)).map {
        case (s, o) => pick(Recorder.records(ctx, Seq(o))).toDouble / s.deltaRows })
      ctx.layer("warm.rows_scanned_per_delta_row", perDelta("warm", _._1), "ratio")
      ctx.layer("commit.rows_written_per_delta_row", perDelta("commit", _._2), "ratio")
      ctx.layer("trace_overhead_frac", Ctx.median(traced.map(_.cycleS)) / cycleS - 1, "ratio")
      CdcStream.traced(ctx)
    }
  }
}
