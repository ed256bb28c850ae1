package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Row-signature expressions.
  *
  * The reference computes a per-row CRC32 over all columns concatenated
  * (`CRC32(CONCAT_WS('', cols...))`, reference: src/download.py:133,392;
  * README.md:14-16) and caches `(id, hash)` to detect changed rows without
  * transferring full data.
  *
  * Differences from the reference, deliberate (SURVEY.md §7.4):
  *  - a non-empty separator (``) is used so `("ab","c")` and
  *    `("a","bc")` don't collide — the reference's empty separator is a
  *    latent collision bug we do not reproduce;
  *  - the signature is a 128-bit `md5`, not the reference's 32-bit crc:
  *    collision probability at 100 TB key counts makes crc unsafe for
  *    correctness-critical classification, and the DuckDB oracle has
  *    `md5` but not `crc32`;
  *  - it is a Spark built-in → whole-stage codegen, no UDF.
  */
object Signatures {
  /** Bumped when Sep / NullSentinel / sig composition changes: persisted
    * state tables and streaming checkpoints hold sigs of a specific
    * version, and mixing versions misclassifies EVERY row as changed (a
    * full refetch storm). Deployments must recompute state (cold run) on
    * a bump. v2: explicit \u0001 separator + control-char null sentinel.
    */
  val SigVersion = 2

  val Sep = "\u0001"

  /** NULLs are replaced by a sentinel BEFORE concat: `concat_ws` silently
    * skips NULL inputs, so without this `(null, "a")` and `("a", null)`
    * would collide — a latent bug in the reference's CONCAT_WS('') scheme
    * we deliberately do not reproduce.
    */
  private val NullSentinel = "\u0000\u2400\u0000" // NUL + SYMBOL-FOR-NULL + NUL
  private def concatCols(cols: Seq[Column]): Column =
    concat_ws(Sep, cols.map(c => coalesce(c.cast("string"), lit(NullSentinel))): _*)

  /** 128-bit signature used by the CDC diff (collision-safe at scale). */
  def md5Sig(cols: Seq[Column]): Column = md5(concatCols(cols).cast("binary"))
}
