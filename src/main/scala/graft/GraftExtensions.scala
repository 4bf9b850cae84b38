package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.LongDotProduct

/** Session extension registering graft's native expressions with the
  * SQL function registry, so `spark.sql("SELECT long_dot(a, b) ...")`
  * works anywhere — configure with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("long_dot"),
      new ExpressionInfo(classOf[LongDotProduct].getName, "long_dot"),
      (children: Seq[Expression]) => LongDotProduct(children(0), children(1))))
    // kmv_kth(hash, k): k must be a foldable integer literal
    ext.injectFunction((
      FunctionIdentifier("kmv_kth"),
      new ExpressionInfo(classOf[graft.functions.KmvKth].getName, "kmv_kth"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "kmv_kth(hash, k) needs a literal k")
        graft.functions.KmvKth(children(0),
          children(1).eval().asInstanceOf[Number].intValue)
      }))
    // vec_sum(array<long>): element-wise per-group vector sum
    ext.injectFunction((
      FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[graft.functions.VecSumLong].getName, "vec_sum"),
      (children: Seq[Expression]) => graft.functions.VecSumLong(children.head)))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    // derived raw-nanos bounds for computed timestamp predicates, so
    // replay/threshold filters on the events feed skip row groups
    ext.injectOptimizerRule(_ => graft.plans.DerivedTimeBound)
  }
}
