package graft

import scala.reflect.ClassTag
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.{AssignCid, DotDouble, LutSum, MinhashSig, Simhash64, SortedIntersect, SortedIntersectAtLeast, SortedIntersectSize, TopKByAgg}

/** SparkSessionExtensions entry point and the ONE registration path for
  * graft's native SQL functions and its optimizer rule. Every session
  * built through [[Sessions.tune]] gets them via `withExtensions`; any
  * other session gets them from `spark.sql.extensions=graft.GraftExtensions`
  * (cluster deploys). Nothing registers per call. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.IntersectRewrite)
  }
}

object GraftExtensions {

  private def fn[T <: Expression](name: String)(build: Seq[Expression] => T)
      (implicit ct: ClassTag[T]) =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name), build)

  /** Every native SQL function, by name and builder. `bloom_agg` and
    * `bloom_might_contain` are Spark's own runtime-filter expressions,
    * which Catalyst does not expose to SQL. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("sorted_intersect_size")(e => SortedIntersectSize(e(0), e(1))),
    fn("sorted_intersect")(e => SortedIntersect(e(0), e(1))),
    fn("sorted_intersect_atleast")(e => SortedIntersectAtLeast(e(0), e(1), e(2))),
    fn("lut_sum")(e => LutSum(e(0), e(1))),
    fn("assign_cid")(e => AssignCid(e(0), e(1), e(2))),
    fn("simhash64")(e => Simhash64(e(0), e(1))),
    fn("dot_double")(e => DotDouble(e(0), e(1))),
    fn("minhash_sig")(e => MinhashSig(e(0))),
    fn("topk_by")(e => TopKByAgg(e(0), e(1), e(2))),
    fn("bloom_agg")(e => new BloomFilterAggregate(e(0), e(1), e(2))),
    fn("bloom_might_contain")(e => BloomFilterMightContain(e(0), e(1))),
  )
}
