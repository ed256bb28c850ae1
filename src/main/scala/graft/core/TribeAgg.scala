package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived per-group aggregate statistics — the reference's `post_update`
  * stage (src/post_update.py). Roles re-bound to testdata per FIXTURES.md
  * §3: `nation` plays `tribe` (dim), `customer` plays `player` (fact),
  * `orders` plays `member`/`player_new` (bridge / per-run delta).
  *
  * Tribe and active membership are key probes ([[Diff.keys]]): filters
  * on a driver-side key set when the one small-relation rule
  * ([[Diff.collectIfSmall]]) lets their keys reach the driver, joins
  * otherwise. Membership matches by `===`, as
  * the reference's joins do: a null tribe key, member FK or member key
  * matches nothing, so no null probe reaches the probes' `<=>`. Each
  * public call builds its probes once; their key sets are left to
  * Spark's ContextCleaner. [[Runner.postUpdateIncremental]] builds them
  * once for both of its writes and releases them.
  *
  * There is no incremental form. Like the reference, every post_update
  * ([[Runner.postUpdateIncremental]]) recomputes both tables over all
  * tribes, so no row outlives the tribe or member it was computed from.
  */
object TribeAgg {
  /** group_tribe_active (reference: src/post_update.py:22-39):
    * per tribe: COUNT(members), COUNT(active) where "active" counts members
    * whose player row changed THIS RUN (join against the delta, not the
    * snapshot — post_update.py:36-37, preserved exactly per SURVEY §7.4.5),
    * and POWER(COUNT(members), 0.5) as the `members_sqrt` normalizer.
    *
    * The first column of `activeKeys` holds the changed member keys (the
    * `player_new` analog); a key listed twice counts once.
    */
  def tribeActive(tribe: DataFrame, members: DataFrame, activeKeys: DataFrame,
                  tribeKey: String, memberTribeFk: String, memberKey: String): DataFrame =
    active(Diff.keys(tribe, Seq(tribeKey)), members, activeProbe(activeKeys), memberTribeFk, memberKey)

  /** The first column of `activeKeys` as key probes. */
  private[core] def activeProbe(activeKeys: DataFrame): Diff.Keys =
    Diff.keys(activeKeys, activeKeys.columns.take(1))

  /** [[tribeActive]] over probes built once: `tribes` probes the tribe
    * keys, `activeKeys` the changed member keys.
    */
  private[core] def active(tribes: Diff.Keys, members: DataFrame, activeKeys: Diff.Keys,
                           memberTribeFk: String, memberKey: String): DataFrame =
    activeKeys.flag(tribeMembers(tribes, members, memberTribeFk), Seq(memberKey), "__active")
      .groupBy(col(tribes.key.head))
      .agg(
        count(col(memberKey)).as("members"),          // COUNT(m.id_member)
        count(when(col(memberKey).isNotNull && col("__active"), 1)).as("active"), // COUNT(p.id)
        pow(count(col(memberKey)), 0.5).as("members_sqrt"))

  /** `members` whose FK names a tribe of `tribes`, that key as the tribe
    * key column.
    */
  private def tribeMembers(tribes: Diff.Keys, members: DataFrame, memberTribeFk: String): DataFrame =
    tribes.semi(members.filter(col(memberTribeFk).isNotNull), Seq(memberTribeFk))
      .withColumn(tribes.key.head, col(memberTribeFk).cast(tribes.df.schema.head.dataType))

  /** group_tribe_stats (reference: src/post_update.py:42-91): per tribe,
    * for every discovered stat column, SUM(stat) / members_sqrt. The stat
    * list is schema-driven (post_update.py:57-66 excludes id/members/
    * active); two shapes exist — cold recomputes counts inline with a LEFT
    * JOIN on the delta (post_update.py:44-49,86-89), warm reuses a
    * precomputed `tribe_active` (post_update.py:50-55,84). One
    * implementation with `precomputed: Option[DataFrame]` (SURVEY §7.4.6).
    *
    * `factSkewSalts > 0` routes the member⋈fact join through
    * [[Skew.autoSaltJoin]]: the fact side is the one large⋈large join of
    * this stage and the one place key skew is structural in production (a
    * hot member with millions of fact rows pins a task; small tribe and
    * active key sets are filters, not joins, so they cannot skew).
    * Uniform key histograms take the plain join unchanged — identical
    * results either way.
    */
  def tribeStats(tribe: DataFrame, members: DataFrame, facts: DataFrame,
                 activeKeys: DataFrame, tribeKey: String, memberTribeFk: String,
                 memberKey: String, factKey: String, statCols: Seq[String],
                 precomputed: Option[DataFrame],
                 factSkewSalts: Int = 0): DataFrame = {
    val tribes = Diff.keys(tribe, Seq(tribeKey))
    // warm reuses the precomputed tribe_active (post_update.py:50-55);
    // cold recomputes it inline (post_update.py:44-49)
    stats(tribes, members, facts, memberTribeFk, memberKey, factKey, statCols,
      precomputed.getOrElse(active(tribes, members, activeProbe(activeKeys), memberTribeFk, memberKey)),
      factSkewSalts)
  }

  /** [[tribeStats]] over the tribe probe built once and `active`, the
    * `tribe_active` rows.
    */
  private[core] def stats(tribes: Diff.Keys, members: DataFrame, facts: DataFrame,
                          memberTribeFk: String, memberKey: String, factKey: String,
                          statCols: Seq[String], active: DataFrame,
                          factSkewSalts: Int): DataFrame = {
    val tribeKey = tribes.key.head
    val bridge = tribeMembers(tribes, members, memberTribeFk)
    val base =
      if (factSkewSalts > 0)
        Skew.autoSaltJoin(facts.withColumnRenamed(factKey, memberKey),
          bridge, Seq(memberKey), factSkewSalts)
      else bridge.join(facts, col(memberKey) === col(factKey), "inner")

    // the member/active counts aggregate the tribe⋈member bridge BEFORE
    // the facts join: with 1:N facts (a member with several fact rows)
    // counting after the join would inflate members and the sqrt divisor.
    // (In the reference member→player is 1:1 so the orders coincide.)
    val aggs = statCols.map(c => sum(col(c)).as(s"__sum_$c"))
    val sums = base.groupBy(col(tribeKey)).agg(aggs.head, aggs.tail: _*)
    val statOut = statCols.map(n => (col(s"__sum_$n") / col("members_sqrt")).as(n))
    sums.join(active, Seq(tribeKey), "inner")
      .select(col(tribeKey) +: col("members") +: col("active") +: statOut: _*)
  }
}
