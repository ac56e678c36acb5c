package graft

import org.apache.spark.sql.functions._

class TopKByAggSpec extends SparkSpec {
  import spark.implicits._

  test("topk_by equals the window row_number form on the fixture") {
    val viaAgg = graft.queries.Extras.topOrdersPerCustomer(spark, sf)
      .collect().map(r => (r.getAs[Long]("custkey"), r.getAs[Int]("rank"),
        r.getAs[Long]("orderkey"))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"))
      .collect().map(r => (r.getAs[Long](0), r.getAs[Int](1), r.getAs[Long](2))).toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)
  }

  test("partial aggregation: two aggregate stages, no window sort of the full input") {
    val df = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(expr("topk_by(o_totalprice, o_orderkey, 3)").as("topk"))
    val plan = df.queryExecution.executedPlan.toString
    // ObjectHashAggregate runs the TypedImperativeAggregate with map-side
    // partials: at most k rows per key per map task reach the shuffle
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("ties break to the smaller payload, exactly ORDER BY ord DESC, id ASC") {
    val df = Seq(
      (1L, 5.0, 30L), (1L, 5.0, 10L), (1L, 5.0, 20L), (1L, 4.0, 1L),
      (2L, 1.0, 2L)
    ).toDF("k", "v", "id")
    val out = df.groupBy(col("k"))
      .agg(expr("topk_by(v, id, 2)").as("t"))
      .select(col("k"), expr("transform(t, s -> s.payload)").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(10L, 20L)) // the two smallest ids among the 5.0 ties
    assert(out(2L) == Seq(2L))       // group smaller than k → all rows
  }

  test("null ord rows are skipped; k < 1 is rejected at analysis") {
    val df = Seq((1L, Some(5.0), 1L), (1L, None, 2L)).toDF("k", "v", "id")
    val out = df.groupBy(col("k")).agg(expr("topk_by(v, id, 5)").as("t"))
      .select(expr("size(t)")).collect()(0).getInt(0)
    assert(out == 1) // null ord skipped
    val e = intercept[Exception] {
      df.groupBy(col("k")).agg(expr("topk_by(v, id, 0)").as("t")).collect()
    }
    assert(e.getMessage.contains("k must be >= 1"), e.getMessage)
  }
}
