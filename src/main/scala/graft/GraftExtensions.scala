package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{CmsSketchAgg, CosineSimilarity, Hash60,
  HllSketchAgg, MinKSampleAgg, SortedIntersectCount}

/** Engine extension point: registers graft's native expressions with the
  * session so they're callable from SQL and `call_function`.
  *
  * Enable with:
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.IntersectCountRewrite)
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"cosine_similarity expects 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "hash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"hash60 expects 1 argument, got ${children.length}")
        Hash60(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("hll_sketch_estimate"),
      new ExpressionInfo(classOf[HllSketchAgg].getName,
        "hll_sketch_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"hll_sketch_estimate expects 1 argument, got ${children.length}")
        HllSketchAgg(children.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("mink_sample"),
      new ExpressionInfo(classOf[MinKSampleAgg].getName, "mink_sample"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          s"mink_sample expects (key, value[, k]), got ${children.length}")
        val k = children.drop(2).headOption.map(_.eval() match {
          case i: Int => i
          case l: Long => l.toInt
        }).getOrElse(64)
        MinKSampleAgg(children.head, children(1), k).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"sorted_intersect_count expects 2 arguments, " +
            s"got ${children.length}")
        SortedIntersectCount(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketchAgg].getName, "cms_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"cms_sketch expects (key, weight), got ${children.length}")
        CmsSketchAgg(children.head, children(1)).toAggregateExpression()
      }))
  }
}
