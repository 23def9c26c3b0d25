package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{BpeSplit, SignBits, SimHash64, StrHamming, VecDot,
  VecDotInt, WinnowFps}

/** SparkSessionExtensions entry point and the ONE registration path of the
  * engine's seven native functions: [[graft.Session.builder]] (and the
  * Bench/Verify sessions) apply it in code, and a cluster session gets the
  * same surface from
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. Operators
  * never register functions on the caller's session themselves.
  *
  * Also injects [[RangeJoinRewrite]], the engine's one optimizer rule:
  * Catalyst plans a pure range-containment join as
  * BroadcastNestedLoopJoin, and the rule rewrites it to the
  * bucket-expansion equi-join ([[graft.ops.RangeJoin]]'s shape) so naive
  * `BETWEEN` joins stay scale-safe. (The reference has no optimizer of
  * its own to port — SURVEY.md §4 — this rule covers a gap in Spark, not
  * a reference feature.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      exprs => VecDot(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      exprs => SimHash64(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("str_hamming"),
      new ExpressionInfo(classOf[StrHamming].getName, "str_hamming"),
      exprs => StrHamming(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("sign_bits"),
      new ExpressionInfo(classOf[SignBits].getName, "sign_bits"),
      exprs => SignBits(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_int"),
      new ExpressionInfo(classOf[VecDotInt].getName, "vec_dot_int"),
      exprs => VecDotInt(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      exprs => WinnowFps(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      new FunctionIdentifier("bpe_split"),
      new ExpressionInfo(classOf[BpeSplit].getName, "bpe_split"),
      exprs => BpeSplit(exprs(0), exprs(1))))
  }
}
