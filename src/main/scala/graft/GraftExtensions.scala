package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.{FloatArrayDot, HyperplaneBucket, MinHashSig, SimHash64}
import graft.plans.{PushFilterThroughTopK, TopKStrategy}

/** The engine's canonical integration point:
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `withExtensions(new GraftExtensions)` on a session builder) installs
  *  - the [[graft.plans.TopKPerGroup]] planner strategy,
  *  - the [[graft.plans.PushFilterThroughTopK]] optimizer rule,
  *  - SQL bindings for the codegen'd vector kernels
  *    (`float_dot(a, b)`, `hyperplane_bucket(v, planes)`).
  *
  * The library also works without it: [[graft.plans.TopK.perGroup]]
  * self-registers through `spark.experimental` on first use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => PushFilterThroughTopK)
    e.injectFunction((
      FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatArrayDot].getName, "float_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"float_dot takes 2 arguments, got ${exprs.length}")
        FloatArrayDot(exprs(0), exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"hyperplane_bucket takes 2 arguments, got ${exprs.length}")
        exprs(1) match {
          case Literal(p: Int, _) => HyperplaneBucket(exprs(0), p)
          case other => throw new IllegalArgumentException(
            s"hyperplane_bucket planes must be an int literal, got $other")
        }
      }))
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"minhash_sig takes (text, n, k), got ${exprs.length} arguments")
        (exprs(1), exprs(2)) match {
          case (Literal(n: Int, _), Literal(k: Int, _)) => MinHashSig(exprs(0), n, k)
          case other => throw new IllegalArgumentException(
            s"minhash_sig n and k must be int literals, got $other")
        }
      }))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"simhash64 takes 1 argument, got ${exprs.length}")
        SimHash64(exprs(0))
      }))
  }
}
