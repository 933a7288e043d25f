package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers graft's optimizer rules
  * and custom codegen expressions as SQL functions in every session built
  * by [[graft.GraftSession]], or elsewhere with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // after RangeJoinRewrite: a point-in-range join matches both patterns
    // (a point is a degenerate interval) and the point rule's single-side
    // explode is the better plan; either rewrite adds the equi conjunct
    // that makes the other skip.
    e.injectOptimizerRule(_ => graft.plans.OverlapJoinRewrite)
    e.injectFunction((FunctionIdentifier("ip_to_num"),
      info("ip_to_num", "ip_to_num(str) - dotted-quad IPv4 to numeric, NULL if invalid"),
      (exprs: Seq[Expression]) => IpToNum(exprs.head)))
    e.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - double-promoted dot product of float/double arrays"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("regex_groups"),
      info("regex_groups", "regex_groups(str, pattern) - all capture groups, NULL if no match"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(p, _) => RegexGroups(exprs.head, p.toString)
        case other => throw new IllegalArgumentException(
          s"regex_groups pattern must be a literal, got $other")
      }))
    e.injectFunction((FunctionIdentifier("count_in_set"),
      info("count_in_set", "count_in_set(arr, item, ...) - occurrences of array elements among the literal items"),
      (exprs: Seq[Expression]) => {
        val items = exprs.tail.map {
          case Literal(v, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"count_in_set items must be literals, got $other")
        }
        CountInSet(exprs.head, items)
      }))
    e.injectFunction((FunctionIdentifier("min_window_md5"),
      info("min_window_md5", "min_window_md5(str, window) - winnowing fingerprint"),
      (exprs: Seq[Expression]) => exprs(1) match {
        case Literal(w, _) => MinWindowMd5(exprs.head, w.toString.toInt)
        case other => throw new IllegalArgumentException(
          s"min_window_md5 window must be a literal, got $other")
      }))
  }
}
