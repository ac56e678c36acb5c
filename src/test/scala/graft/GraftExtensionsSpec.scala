package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.functions.SortedIntersectSize

/** The one registration path, proven from outside: a bare session whose
  * only graft setting is `spark.sql.extensions=graft.GraftExtensions` —
  * no [[Sessions.tune]], no per-call registration — must resolve and
  * evaluate every function in [[GraftExtensions.functions]] and apply
  * [[graft.plans.IntersectRewrite]]. `spark.sql.extensions` is a static
  * conf, so the check runs in a child JVM. */
class GraftExtensionsSpec extends AnyFunSuite {
  test("a bare session with spark.sql.extensions resolves every native function and applies IntersectRewrite") {
    val (rc, out) = ChildJvm.run("graft.BareExtensionsChild")
    assert(rc == 0, s"child failed:\n${out.takeRight(4000)}")
  }
}

/** Child entry point for [[GraftExtensionsSpec]]. */
object BareExtensionsChild {
  /** One evaluated call per table entry: a query and its single value
    * cast to STRING. */
  private val probes = Map(
    "sorted_intersect_size" -> ("SELECT sorted_intersect_size(array(1L, 2L), array(2L, 3L))", "1"),
    "sorted_intersect" -> ("SELECT sorted_intersect(array(1L, 2L, 3L), array(2L, 3L, 4L))", "[2, 3]"),
    "sorted_intersect_atleast" ->
      ("SELECT sorted_intersect_atleast(array(1L, 2L, 3L), array(2L, 3L), 2)", "true"),
    "lut_sum" -> ("SELECT lut_sum(array(1, 0), array(array(0.5D, 1.5D), array(2.0D, 3.0D)))", "3.5"),
    "assign_cid" -> ("""SELECT assign_cid(array(1.0D, 0.0D), 1.0D, array(
        named_struct('cid', 0, 'c', array(0.0D, 1.0D), 'cn2', 1.0D),
        named_struct('cid', 1, 'c', array(1.0D, 0.0D), 'cn2', 1.0D)))""", "1"),
    "simhash64" -> ("SELECT simhash64(array(1L), array(0L))", "1"),
    "dot_double" -> ("SELECT dot_double(array(1.0D, 2.0D), array(3.0D, 4.0D))", "11.0"),
    "minhash_sig" -> ("SELECT minhash_sig(array(1L))[0]", "4"),
    "topk_by" -> ("SELECT topk_by(CAST(id AS DOUBLE), id, 2)[0].payload FROM range(5)", "4"),
    "bloom_agg" -> ("SELECT bloom_agg(id, 10L, 256L) IS NOT NULL FROM range(10)", "true"),
    "bloom_might_contain" -> ("""SELECT bloom_might_contain(
        (SELECT bloom_agg(id, 10L, 256L) FROM range(10)), 3L)""", "true"),
  )

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val names = GraftExtensions.functions.map(_._1.funcName).toSet
      require(names == probes.keySet,
        s"probes out of step with the function table: untested=${names -- probes.keySet} unknown=${probes.keySet -- names}")
      probes.foreach { case (name, (sql, expected)) =>
        val got = spark.sql(sql).toDF("v").selectExpr("CAST(v AS STRING)").head().getString(0)
        require(got == expected, s"$name: expected $expected, got $got")
      }
      // nullable elements, as in the fixture columns IntersectRewriteSpec
      // uses: on non-null arrays the optimizer folds the null branches out
      // of array_sort's default comparator before the rule sees it
      val df = spark.range(3).selectExpr("IF(id > 5, NULL, id) AS x").selectExpr(
          "array_sort(array_distinct(array(x, 3L))) AS a",
          "array_sort(array_distinct(array(x, 1L))) AS b")
        .selectExpr("size(array_intersect(a, b)) AS n")
      require(df.queryExecution.optimizedPlan.expressions
          .exists(_.find(_.isInstanceOf[SortedIntersectSize]).isDefined),
        s"IntersectRewrite not applied:\n${df.queryExecution.optimizedPlan}")
      require(df.collect().forall(_.getInt(0) == 1), "rewritten intersect sizes wrong")
    } finally spark.stop()
  }
}
