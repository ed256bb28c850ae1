package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog (slowly-changing-dimension history) operators.
  *
  * The reference appends the *pre-update* version of every changed row to
  * `{t}_changelog` via `INSERT INTO {t}_changelog SELECT o.* FROM {t}_new n
  * INNER JOIN {t} o ON n.pk = o.pk` (reference: src/download.py:583-595) —
  * ordering matters: the changelog reads the pre-swap main table
  * (SURVEY.md §7.4.4).
  */
object Changelog {
  /** changelog_join: capture old versions of exactly the changed keys.
    * Reference uses INNER JOIN selecting only `o.*` (download.py:585-595) —
    * semantically a left-semi join, which we use so no right-side columns
    * are ever materialized (narrower shuffle at scale).
    */
  def captureOld(oldSnapshot: DataFrame, changed: DataFrame, key: Seq[String]): DataFrame =
    // null-safe (<=>) like the rest of the diff algebra: a null-key row
    // classified 'changed' must have its old version captured too, or the
    // upsert rewrites it with no history trail
    Diff.semiJoinChanged(oldSnapshot, changed, key)

  /** changelog_latest: reconstruct latest-version-per-key from an
    * append-only changelog. The reference keeps history implicitly ordered
    * by insertion (download.py:583-595); downstream consumers need
    * "latest per id", a ranking window (SURVEY.md §2.6).
    */
  def latest(changelog: DataFrame, key: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(versionCol).desc)
    changelog.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
