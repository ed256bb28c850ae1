package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Derived per-group aggregate statistics — the reference's `post_update`
  * stage (src/post_update.py). Roles re-bound to testdata per FIXTURES.md
  * §3: `nation` plays `tribe` (dim), `customer` plays `player` (fact),
  * `orders` plays `member`/`player_new` (bridge / per-run delta).
  *
  * Scale notes: the dim side (`tribe`/`nation`) is tiny → broadcast; the
  * delta key set is small → broadcast; the only shuffle is the final
  * hash aggregate on the group key, with map-side partial aggregation.
  */
object TribeAgg {
  /** group_tribe_active (reference: src/post_update.py:22-39):
    * per tribe: COUNT(members), COUNT(active) where "active" counts members
    * whose player row changed THIS RUN (join against the delta, not the
    * snapshot — post_update.py:36-37, preserved exactly per SURVEY §7.4.5),
    * and POWER(COUNT(members), 0.5) as the `members_sqrt` normalizer.
    *
    * `activeKeys` must be a 1-column DataFrame of distinct changed member
    * keys (the `player_new` analog).
    */
  def tribeActive(tribe: DataFrame, members: DataFrame, activeKeys: DataFrame,
                  tribeKey: String, memberTribeFk: String, memberKey: String): DataFrame = {
    val joined = broadcast(tribe.select(col(tribeKey)))
      .join(members, col(tribeKey) === col(memberTribeFk), "inner")
      .join(broadcast(activeKeys.withColumnRenamed(activeKeys.columns.head, "__active_key")),
        col(memberKey) === col("__active_key"), "left_outer")
    joined.groupBy(col(tribeKey))
      .agg(
        count(col(memberKey)).as("members"),          // COUNT(m.id_member)
        count(col("__active_key")).as("active"),      // COUNT(p.id): null-skipping
        pow(count(col(memberKey)), 0.5).as("members_sqrt"))
  }

  /** group_tribe_stats (reference: src/post_update.py:42-91): per tribe,
    * for every discovered stat column, SUM(stat) / members_sqrt. The stat
    * list is schema-driven (post_update.py:57-66 excludes id/members/
    * active); two shapes exist — cold recomputes counts inline with a LEFT
    * JOIN on the delta (post_update.py:44-49,86-89), warm reuses a
    * precomputed `tribe_active` (post_update.py:50-55,84). One
    * implementation with `precomputed: Option[DataFrame]` (SURVEY §7.4.6).
    */
  /** `factSkewSalts > 0` routes the member⋈fact join through
    * [[Skew.autoSaltJoin]]: the fact side is the one large⋈large join of
    * this stage and the one place key skew is structural in production (a
    * hot member with millions of fact rows pins a task; the dim and delta
    * joins broadcast, so they cannot skew). Uniform key histograms take
    * the plain join unchanged — identical results either way.
    */
  def tribeStats(tribe: DataFrame, members: DataFrame, facts: DataFrame,
                 activeKeys: DataFrame, tribeKey: String, memberTribeFk: String,
                 memberKey: String, factKey: String, statCols: Seq[String],
                 precomputed: Option[DataFrame],
                 factSkewSalts: Int = 0): DataFrame = {
    val bridge = broadcast(tribe.select(col(tribeKey)))
      .join(members, col(tribeKey) === col(memberTribeFk), "inner")
    val base =
      if (factSkewSalts > 0)
        Skew.autoSaltJoin(facts.withColumnRenamed(factKey, memberKey),
          bridge, Seq(memberKey), factSkewSalts)
      else bridge.join(facts, col(memberKey) === col(factKey), "inner")

    // warm reuses the precomputed tribe_active (post_update.py:50-55);
    // cold recomputes it inline (post_update.py:44-49). Either way the
    // member/active counts aggregate the tribe⋈member bridge BEFORE the
    // facts join: with 1:N facts (a member with several fact rows)
    // counting after the join would inflate members and the sqrt divisor.
    // (In the reference member→player is 1:1 so the orders coincide.)
    val active = precomputed.getOrElse(
      tribeActive(tribe, members, activeKeys, tribeKey, memberTribeFk, memberKey))
    val aggs = statCols.map(c => sum(col(c)).as(s"__sum_$c"))
    val sums = base.groupBy(col(tribeKey)).agg(aggs.head, aggs.tail: _*)
    val statOut = statCols.map(n => (col(s"__sum_$n") / col("members_sqrt")).as(n))
    sums.join(broadcast(active), Seq(tribeKey), "inner")
      .select(col(tribeKey) +: col("members") +: col("active") +: statOut: _*)
  }

  /** Tribes whose aggregates a member delta invalidates: every tribe a
    * touched member belongs to NOW plus every tribe it belonged to
    * BEFORE (covers moves and deletions — the old tribe loses the
    * member, the new tribe gains it). Both joins are semi joins against
    * the (small, broadcast) touched-key set.
    */
  def affectedTribes(oldMembers: DataFrame, newMembers: DataFrame,
                     touchedKeys: DataFrame, memberTribeFk: String,
                     memberKey: String): DataFrame = {
    val keys = broadcast(touchedKeys
      .withColumnRenamed(touchedKeys.columns.head, "__tk"))
    def tribesOf(m: DataFrame) =
      m.join(keys, col(memberKey) === col("__tk"), "left_semi")
        .select(col(memberTribeFk).as("__affected"))
    tribesOf(oldMembers).unionByName(tribesOf(newMembers)).distinct()
  }

  /** Incremental maintenance of the per-tribe aggregate tables — the
    * 100 TB form of the reference's post_update, which rebuilds both
    * tables from scratch every run (post_update.py:22-91). Only tribes
    * in `affected` (see [[affectedTribes]]) are recomputed, over
    * members/facts PRUNED to those tribes; every other row carries over
    * from the previous run with `active` reset to 0 (activity is
    * per-run: a tribe with no touched member this run has no active
    * members this run, by definition).
    *
    * Returns (tribeActive, tribeStats), equal to the full recompute
    * (TribeAggSpec asserts it), with per-run cost ∝ delta, not corpus:
    * the facts join scans only rows of affected tribes' members.
    */
  def incrementalUpdate(oldActive: DataFrame, oldStats: DataFrame,
                        tribe: DataFrame, members: DataFrame, facts: DataFrame,
                        activeKeys: DataFrame, affected: DataFrame,
                        tribeKey: String, memberTribeFk: String,
                        memberKey: String, factKey: String,
                        statCols: Seq[String]): (DataFrame, DataFrame) = {
    val aff = broadcast(affected
      .withColumnRenamed(affected.columns.head, "__affected"))
    def pruneTribe(df: DataFrame, k: String) =
      df.join(aff, col(k) === col("__affected"), "left_semi")
    val tribeAff = pruneTribe(tribe, tribeKey)
    val membersAff = pruneTribe(members, memberTribeFk)
    val activeAff = tribeActive(tribeAff, membersAff, activeKeys,
      tribeKey, memberTribeFk, memberKey)
    val statsAff = tribeStats(tribeAff, membersAff, facts, activeKeys,
      tribeKey, memberTribeFk, memberKey, factKey, statCols,
      precomputed = Some(activeAff))
    def carryOver(old: DataFrame) =
      old.join(aff, col(tribeKey) === col("__affected"), "left_anti")
        .withColumn("active", lit(0L))
    (carryOver(oldActive).unionByName(activeAff),
      carryOver(oldStats).unionByName(statsAff))
  }
}
