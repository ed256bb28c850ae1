package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.types.DataType

/** Codegen'd null-safe membership of a row's key in a BROADCAST key set:
  * true when the `children` values equal, column by column under `<=>`,
  * one key of the set; never null. The expression carries only the
  * broadcast handle; each task reads the set once.
  *
  * A key is its columns as an `UnsafeRow`, float and double values
  * normalized as Spark's joins normalize them (NaN to one NaN, -0.0 to
  * 0.0). Two such rows are byte-equal exactly when every column is `<=>`
  * equal: a null column is a set null bit with zeroed bytes. That holds
  * for every type whose equality is binary ([[supports]]); strings with a
  * non-binary collation compare by collation key and are left to joins.
  * The set's keys must have been built by [[InKeySet.keySet]] for the
  * children's types.
  */
case class InKeySet(children: Seq[Expression], keys: Broadcast[java.util.Set[UnsafeRow]])
    extends Expression with Predicate {
  override def nullable: Boolean = false
  override def prettyName: String = "in_key_set"

  private lazy val normalized = children.map(NormalizeFloatingNumbers.normalize)
  @transient private lazy val project = UnsafeProjection.create(normalized)

  override def eval(input: InternalRow): Any = keys.value.contains(project(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keySetBcast", keys, "org.apache.spark.broadcast.Broadcast")
    val set = ctx.addMutableState("java.util.Set", "keySet",
      v => s"$v = (java.util.Set) $ref.value();")
    val key = GenerateUnsafeProjection.createCode(ctx, normalized)
    ev.copy(code = code"""
      ${key.code}
      boolean ${ev.value} = $set.contains(${key.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

object InKeySet {
  /** Whether keys of these column types can be probed by byte equality. */
  def supports(types: Seq[DataType]): Boolean = types.forall(UnsafeRowUtils.isBinaryStable)

  /** The probe form of `rows`, whose first columns hold the key values
    * of `types` as `Row.get` returns them (later columns are ignored).
    */
  def keySet(types: Seq[DataType], rows: Iterator[Row]): java.util.Set[UnsafeRow] = {
    val toCatalyst = types.map(CatalystTypeConverters.createToCatalystConverter)
    val project = UnsafeProjection.create(types.zipWithIndex.map { case (t, i) =>
      NormalizeFloatingNumbers.normalize(BoundReference(i, t, nullable = true)) })
    val set = new java.util.HashSet[UnsafeRow]()
    rows.foreach { r =>
      val key = InternalRow.fromSeq(toCatalyst.indices.map(i => toCatalyst(i)(r.get(i))))
      set.add(project(key).copy())
    }
    set
  }

  /** Destroy `b` and wait for its blocks to go; a no-op once destroyed. */
  def destroy(b: Broadcast[_]): Unit = if (b.isValid) b.destroy(blocking = true)
}
