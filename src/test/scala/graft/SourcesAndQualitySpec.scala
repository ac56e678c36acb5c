package graft

import org.apache.spark.sql.functions._
import graft.engine.DataQuality
import graft.sources.Formats
import java.nio.file.Files

class FormatsSpec extends SparkSpec {

  test("csv round-trip preserves rows and types with explicit schema") {
    val tmp = Files.createTempDirectory("fmt").toString
    val src = Tables.nation(spark, sf)
    Formats.writeCsv(src, s"$tmp/nation_csv")
    val back = Formats.readCsv(spark, s"$tmp/nation_csv", src.schema)
    assert(back.schema == src.schema)
    assert(back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq ==
      src.orderBy("n_nationkey").collect().map(_.toSeq).toSeq)
  }

  test("json-lines round-trip preserves rows") {
    val tmp = Files.createTempDirectory("fmt").toString
    val src = Tables.region(spark, sf)
    Formats.writeJsonLines(src, s"$tmp/region_json")
    val back = Formats.readJsonLines(spark, s"$tmp/region_json", src.schema)
    assert(back.count() == src.count())
    assert(back.orderBy("r_regionkey").collect().map(_.toSeq).toSeq ==
      src.orderBy("r_regionkey").collect().map(_.toSeq).toSeq)
  }
}

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  test("clean fixture passes all rules; planted violations are counted") {
    val clean = DataQuality.check(Tables.orders(spark, sf), Seq(
      DataQuality.NotNull("o_custkey"), DataQuality.Unique("o_orderkey")))
    assert(clean.filter(!col("passed")).count() == 0)

    val dirty = Seq(
      (Some(1L), 10.0), (None, 20.0), (Some(1L), -5.0)
    ).toDF("k", "v")
    val report = DataQuality.check(dirty, Seq(
      DataQuality.NotNull("k"), DataQuality.InRange("v", 0, 100),
      DataQuality.Unique("k")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(report("not_null_k") == 1)
    assert(report("range_v") == 1)
    // 3 rows, 1 distinct non-null value: 1 duplicate + 1 null = 2 violations
    assert(report("unique_k") == 2)
  }

  test("gateReport evaluates rules AND referential integrity in ONE Spark action") {
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf).select(col("c_custkey"))
    val rules = Seq(DataQuality.NotNull("o_custkey"), DataQuality.Unique("o_orderkey"))
    // TWO RI rules: the old per-rule count() loop would make 3 actions
    val ri = Seq(
      DataQuality.Ri("fk_cust", "o_custkey", customer, "c_custkey"),
      DataQuality.Ri("fk_cust_again", "o_custkey", customer, "c_custkey"))
    val (report, work) = SparkWork.count(spark)(DataQuality.gateReport(orders, rules, ri))
    assert(work.sqlExecutions == 1,
      s"gateReport must be a single aggregation action, saw ${work.sqlExecutions} SQL executions")
    // and the fused counts are still right: clean fixture ⇒ all pass,
    // including both RI rows
    val rows = report.collect()
    assert(rows.length == rules.length + ri.length)
    assert(rows.forall(_.getAs[Boolean]("passed")))
  }

  test("gateReport counts orphans of a truncated parent (fused RI path)") {
    val orders = Tables.orders(spark, sf)
    val truncated = Tables.customer(spark, sf)
      .filter(col("c_custkey") < 100).select(col("c_custkey"))
    val report = DataQuality.gateReport(orders, Nil,
      Seq(DataQuality.Ri("fk_cust", "o_custkey", truncated, "c_custkey")))
      .collect()
    val expect = DataQuality.orphans(orders, "o_custkey",
      truncated, "c_custkey").count()
    assert(expect > 0)
    assert(report.length == 1)
    assert(report.head.getAs[Long]("n_violations") == expect)
    assert(!report.head.getAs[Boolean]("passed"))
    // the marker join must not perturb the batch total
    assert(report.head.getAs[Long]("n_rows") == orders.count())
  }

  test("orphans finds referentially-broken rows via left-anti join") {
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    assert(DataQuality.orphans(li, "l_orderkey", o, "o_orderkey").count() == 0)
    val truncated = o.filter(col("o_orderkey") < 100)
    assert(DataQuality.orphans(li, "l_orderkey", truncated, "o_orderkey").count() > 0)
  }
}

class DynamicPruningSpec extends SparkSpec {

  test("dynamic partition pruning kicks in for partitioned fact x filtered dim") {
    val tmp = Files.createTempDirectory("dpp").toString
    Tables.orders(spark, sf)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").parquet(s"$tmp/fact")
    val fact = spark.read.parquet(s"$tmp/fact")
    // the dim filter is on a NON-key attribute (fiscal_year), so the year
    // restriction is only knowable at runtime → genuine dynamic pruning
    val dim = graft.engine.DimDate.generate(spark, start = "1995-01-01", days = 2557)
      .select(col("year").as("order_year"), col("fiscal_year")).distinct()
      .filter(col("fiscal_year") === 1998)
    val j = fact.join(dim, Seq("order_year"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"expected DPP in plan:\n${plan.take(2000)}")
    assert(j.count() > 0)
  }
}
