package graft.core

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, InKeySet}
import org.apache.spark.sql.types.DataType

/** The CDC diff algebra — the reference's raison d'être (README.md:14-18).
  *
  * The reference hand-rolls a symmetric streaming full-outer join of two
  * `(id, hash)` streams with change classification (`filter_loop`,
  * src/download.py:113-336): matched ids with equal hash are dropped,
  * unequal hash → changed, external-only residue → new, internal-only
  * residue → deleted. Full rows are then fetched only for changed/new ids
  * (batched `WHERE IN`, download.py:435-476) and applied with REPLACE
  * semantics plus batched deletes (download.py:338-366, 489-506).
  *
  * Spark-first re-expression: the whole classification is ONE declarative
  * full-outer join on the key over `(key, sig)` projections — Catalyst
  * prunes both scans down to key+signature columns (the reference's
  * manual projection pushdown, download.py:95-98,131-141, for free), and
  * the shuffle-based join replaces the hand-managed symmetric-hash memory
  * protocol with spill-safe, partition-parallel execution. At 100 TB both
  * sides shuffle only ~(key + 16-byte sig) per row, never full rows; the
  * full-row fetch is a `left_semi` join against the (small) changed-key
  * set, which AQE broadcasts when it fits — exactly the reference's
  * semi-join-reduction intent (download.py:435 "waaaay faster").
  * WarmPlanSpec pins the (key, sig)-only shuffle on the warm path. A
  * warm run whose delta fits the broadcast threshold goes one step
  * further, as the reference drives its fetch and deletes from one id
  * list held in the process (download.py:435-476, 585-595): the delta
  * keys go to the driver once and the fetch, changelog and deletes
  * filter on them ([[inKeySet]]), the same rows as the joins below.
  * Every operator matches keys by one rule, null-safe `<=>` ([[Keys]]).
  */
object Diff {
  val KindCol = "kind"
  val SigCol  = "sig"

  /** The one rule for what the driver holds: `df` fits when its bytes
    * are within `autoBroadcastJoinThreshold`, the planner's own broadcast
    * rule, where -1 means never. The bytes are `rows` × the row schema's
    * default size when the caller knows the row count, else the plan's
    * size estimate. A fitting `df` is collected; a local relation's
    * collect starts no job.
    */
  private[graft] def collectIfSmall(df: DataFrame, rows: Option[Long]): Option[Array[Row]] = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bytes = rows.fold(df.queryExecution.optimizedPlan.stats.sizeInBytes)(BigInt(_) * df.schema.defaultSize)
    if (threshold >= 0 && bytes <= threshold) Some(df.collect()) else None
  }

  /** [[collectIfSmall]] for rows whose first columns are `key`, when
    * `InKeySet.supports` their types: rows a [[KeySet]] can be built from.
    */
  private[graft] def collectKeysIfSmall(df: DataFrame, key: Seq[String],
                                        rows: Option[Long]): Option[Array[Row]] =
    if (InKeySet.supports(key.map(df.schema(_).dataType))) collectIfSmall(df, rows) else None

  /** The `key` columns of `df` as [[Keys]]: a broadcast [[KeySet]] when
    * they fit the driver ([[collectKeysIfSmall]]), else joined.
    */
  private[graft] def keys(df: DataFrame, key: Seq[String]): Keys = {
    val k = df.select(key.map(col): _*)
    Keys(k, key, collectKeysIfSmall(k, key, None).map(rows =>
      keySet(df.sparkSession, key.map(k.schema(_).dataType), rows.iterator)))
  }

  /** The `key` columns of `df`, probed by the algebra's one key rule,
    * null-safe `<=>`: through `set` when the driver holds them, else by a
    * join against `df`. Semi and anti joins do not deduplicate `df`: a
    * duplicate build key changes no output row of a left-semi or
    * left-anti join, and a `distinct()` there would only add an aggregate
    * exchange.
    *
    * Null-safe is the one key rule of the algebra: it keeps every
    * operator consistent for nullable keys — a null-key row matches its
    * null-key counterpart (instead of an internal null-key row classifying
    * 'deleted' while the external null-key row appends as 'new', which
    * broke the documented apply(diff(i,e),i)==e round-trip). A caller
    * whose keys match by `===` filters out its null probes first.
    *
    * The set answers a probe only when the join would compare in the
    * keys' own types: each probe column has its key's type, or a
    * narrower one that widens to it (an int probe of long keys). Any
    * other probe joins, and the join widens both sides to their common
    * type, while the set casts the probe to the key type (a long beyond
    * int range wraps or overflows, a double truncates) and would match
    * rows the join does not.
    */
  private[graft] final case class Keys(df: DataFrame, key: Seq[String], set: Option[KeySet]) {
    private def right = df.select(key.map(k => col(k).as(s"__dk_$k")): _*)
    private def cond(probe: Seq[String]) =
      probe.zip(key).map { case (p, k) => col(p) <=> col(s"__dk_$k") }.reduce(_ && _)
    private def setFor(probed: DataFrame, probe: Seq[String]) =
      set.filter(_.types.zip(probe.map(probed.schema(_).dataType)).forall { case (k, p) =>
        TypeCoercion.findTightestCommonType(p, k).contains(k) })

    /** The rows of `probed` whose `probe` columns match a key. */
    def semi(probed: DataFrame, probe: Seq[String]): DataFrame = setFor(probed, probe).fold(
      probed.join(right, cond(probe), "left_semi"))(s => probed.filter(inKeySet(probe, s)))

    /** The rows of `probed` whose `probe` columns match no key. */
    def anti(probed: DataFrame, probe: Seq[String]): DataFrame = setFor(probed, probe).fold(
      probed.join(right, cond(probe), "left_anti"))(s => probed.filter(!inKeySet(probe, s)))

    /** `probed` with a boolean column `name`: whether its `probe` columns
      * match a key; never null. Joined, the keys are deduplicated, so no
      * row of `probed` is repeated.
      */
    def flag(probed: DataFrame, probe: Seq[String], name: String): DataFrame =
      setFor(probed, probe).fold(
        probed.join(right.distinct().withColumn(name, lit(true)), cond(probe), "left_outer")
          .na.fill(false, Seq(name)).drop(key.map(k => s"__dk_$k"): _*)
      )(s => probed.withColumn(name, inKeySet(probe, s)))

    /** Destroy the key set's broadcast, if any, once every plan that
      * probes it has run; idempotent.
      */
    def release(): Unit = set.foreach(_.release())
  }

  /** A key set held by the driver and broadcast to every task: the
    * `<=>` rule of [[Keys]] as a membership test ([[inKeySet]]), so a
    * filter does what a left-semi or left-anti join against a frame of
    * these keys does, with no join and no job to build it, for key types
    * `InKeySet.supports` (all but strings of a non-binary collation).
    * `types` are the key columns' types; a probed frame's keys are cast
    * to them.
    */
  private[graft] final case class KeySet(types: Seq[DataType],
                                         keys: Broadcast[java.util.Set[UnsafeRow]]) {
    /** Destroy the broadcast and wait for its blocks to go; idempotent. */
    def release(): Unit = InKeySet.destroy(keys)
  }

  /** Broadcast the keys of `rows`: their first columns, of `types`. */
  private[graft] def keySet(spark: SparkSession, types: Seq[DataType], rows: Iterator[Row]): KeySet =
    KeySet(types, spark.sparkContext.broadcast(InKeySet.keySet(types, rows)))

  /** A row's `key` is `<=>`-equal to a key of `keys`; never null. */
  private[graft] def inKeySet(key: Seq[String], keys: KeySet): Column =
    Bridge.column(InKeySet(key.zip(keys.types).map { case (k, t) =>
      Bridge.expression(col(k).cast(t)) }, keys.keys))

  /** (key, sig) projection — the persisted signature cache the reference
    * keeps in its `{t}_hashes_0/1` side tables (table.py:107-117).
    */
  def sigTable(df: DataFrame, key: Seq[String], dataCols: Seq[String]): DataFrame =
    df.select(key.map(col) :+ Signatures.md5Sig(dataCols.map(col)).as(SigCol): _*)

  /** hash_diff: classify every key as changed/new/deleted/unchanged.
    * Output: key columns + `kind` string.
    * internal = cached replica rows; external = live source
    * (download.py:130-141). Prefer [[classifyState]] for recurring runs.
    */
  def classify(internal: DataFrame, external: DataFrame,
               key: Seq[String], dataCols: Seq[String]): DataFrame =
    classifyState(sigTable(internal, key, dataCols), external, key, dataCols)

  /** [[classify]] against a PRECOMPUTED signature state (key, sig) — the
    * reference-faithful protocol: it diffs its persisted hash side-table
    * (`{t}_hashes_0`, download.py:89-111) against the live source, never
    * the replica's stored rows. Two properties matter at scale:
    * (a) the internal side of the join scans a 2-column table instead of
    * re-hashing the full snapshot; (b) derived columns written to the
    * snapshot (scores, normalized names — download.py:534-555) cannot
    * feed back into change detection, so a derivation that rewrites a
    * data column does not re-classify every row 'changed' forever.
    */
  def classifyState(state: DataFrame, external: DataFrame,
                    key: Seq[String], dataCols: Seq[String]): DataFrame =
    classifyWithSig(state, external, key, dataCols).drop(SigCol)

  /** [[classifyState]] that also keeps the source signature `sig_e` as
    * `sig` on changed/new rows (null on deleted/unchanged ones): the
    * (key, sig) rows a warm run upserts into its signature state, so the
    * state is maintained without fetching and re-hashing the source rows
    * a second time. Exact when source keys are unique (the reference's
    * primary keys): each touched key then has one source row, whose md5
    * is `sig_e`.
    */
  private[core] def classifyWithSig(state: DataFrame, external: DataFrame,
                                    key: Seq[String], dataCols: Seq[String]): DataFrame = {
    val i = state.select(key.map(k => col(k).as(s"__ki_$k")) :+ col(SigCol).as("sig_i"): _*)
    val e = external.select(key.map(k => col(k).as(s"__ke_$k"))
      :+ Signatures.md5Sig(dataCols.map(col)).as("sig_e"): _*)
    val cond = key.map(k => col(s"__ki_$k") <=> col(s"__ke_$k")).reduce(_ && _)
    i.join(e, cond, "full_outer")
      .withColumn(KindCol,
        when(col("sig_i").isNull, "new")                 // download.py:276-315
          .when(col("sig_e").isNull, "deleted")          // download.py:326-336
          .when(col("sig_i") =!= col("sig_e"), "changed")// download.py:195-206
          .otherwise("unchanged"))                       // download.py:193-195
      .select(key.map(k => coalesce(col(s"__ki_$k"), col(s"__ke_$k")).as(k)) :+
        col(KindCol) :+
        when(col(KindCol).isin("changed", "new"), col("sig_e")).as(SigCol): _*)
  }

  /** semi_join_changed: fetch full rows only for the given key set
    * (reference: batched `WHERE pk IN (...)`, download.py:435-476).
    * `keys` is typically small (the delta) → AQE broadcast.
    */
  def semiJoinChanged(source: DataFrame, keys: DataFrame, key: Seq[String]): DataFrame =
    Keys(keys, key, None).semi(source, key)

  /** anti_join_deleted: rows present in `snapshot` but absent from
    * `source` (reference collects internal-only residue then issues
    * batched DELETEs, download.py:326-366).
    */
  def antiJoinDeleted(snapshot: DataFrame, source: DataFrame, key: Seq[String]): DataFrame =
    Keys(source, key, None).anti(snapshot, key)

  /** upsert_replace: REPLACE INTO semantics — new rows supersede old by
    * key, unmatched old rows survive (reference: download.py:572-577,
    * 597-604). anti-join + union keeps this a pure column-pruned plan.
    */
  def upsertReplace(old: DataFrame, replacements: DataFrame, key: Seq[String]): DataFrame =
    antiJoinDeleted(old, replacements, key).unionByName(replacements)

  /** diff_apply: the end-to-end CDC contract —
    * `apply(diff(internal, external), internal) == external`
    * (composition the reference's `extract` performs, download.py:22-87).
    * Pure function; commit ordering lives in [[Pipeline]].
    */
  def diffApply(internal: DataFrame, external: DataFrame,
                key: Seq[String], dataCols: Seq[String]): DataFrame =
    applyClassified(internal, external, classify(internal, external, key, dataCols), key)

  /** The apply half of [[diffApply]] with a PRECOMPUTED classification —
    * the compute-once-consume-many shape a real replicator runs (classify
    * once, then fetch/changelog/upsert/delete all read the same kinds
    * table). Callers that already hold a valid classification — the warm
    * pipeline's memoized kinds, or a schema-evolution apply whose diff
    * deliberately runs on the ORIGINAL columns so the existing kinds stay
    * valid — skip re-deriving both (key, sig) projections; `kinds` is
    * consumed twice below (fetch keys + delete keys), so a persisted
    * input avoids recomputing the classify join entirely.
    */
  def applyClassified(internal: DataFrame, external: DataFrame,
                      kinds: DataFrame, key: Seq[String]): DataFrame = {
    val touched = kinds.filter(col(KindCol).isin("changed", "new"))
    val fetched = semiJoinChanged(external, touched, key)
    val deleted = kinds.filter(col(KindCol) === "deleted")
    upsertReplace(antiJoinDeleted(internal, deleted, key), fetched, key)
  }
}
