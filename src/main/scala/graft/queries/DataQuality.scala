package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Declarative data-quality expectation suite — the contract-check layer
  * (dbt tests / Deequ / Great Expectations, re-expressed Spark-first)
  * every ingest runs before promoting a batch from bronze to silver, and
  * every training-data pipeline runs before a corpus snapshot ships.
  * Each expectation compiles to ONE aggregate (or one anti-join count
  * for referential checks); the suite is their union — a constraint
  * report, not a sampled guess.
  *
  * Scale shape: per-table checks fuse into a single scan per table
  * (one aggregate projecting every violation counter at once);
  * referential checks are broadcast-free LEFT ANTI joins keyed on the
  * foreign key. Nothing collects; the report is |checks| rows.
  */
object DataQuality {

  /** One row per expectation: (table_name, check_name, n_violations,
    * status). A production runner gates promotion on `status = 'pass'`;
    * the count is kept so a failing check quantifies its blast radius. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    def report(table: String, check: String, violations: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      struct(lit(table).as("table_name"), lit(check).as("check_name"),
        violations.cast("long").as("n_violations"))

    // per-table violation counters fused into one aggregate per scan
    val ordersChecks = Tables.orders(spark, dir).agg(
      report("orders", "o_totalprice_positive",
        sum(when(col("o_totalprice") <= 0, 1).otherwise(0))).as("c1"),
      report("orders", "o_orderdate_not_null",
        sum(when(col("o_orderdate").isNull, 1).otherwise(0))).as("c2"),
      report("orders", "o_orderkey_unique",
        (count(lit(1)) - countDistinct(col("o_orderkey")))).as("c3"))
    val lineitemChecks = Tables.lineitem(spark, dir).agg(
      report("lineitem", "l_discount_in_unit_range",
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1).otherwise(0))).as("c1"),
      report("lineitem", "l_quantity_positive",
        sum(when(col("l_quantity") <= 0, 1).otherwise(0))).as("c2"))
    val customerChecks = Tables.customer(spark, dir).agg(
      report("customer", "c_custkey_unique",
        (count(lit(1)) - countDistinct(col("c_custkey")))).as("c1"))
    val documentChecks = Tables.documents(spark, dir).agg(
      report("documents", "text_not_empty",
        sum(when(col("text").isNull || length(col("text")) === 0, 1).otherwise(0))).as("c1"),
      report("documents", "n_chars_matches_text",
        sum(when(col("n_chars") =!= length(col("text")), 1).otherwise(0))).as("c2"))

    def unnest(df: DataFrame): DataFrame = {
      val cols = df.columns
      df.select(explode(array(cols.map(col): _*)).as("r")).select(col("r.*"))
    }

    // referential integrity: orphan keys via LEFT ANTI (never broadcast
    // by hint — both sides are SF-scaled; AQE may still choose one)
    val orphanOrders = Tables.orders(spark, dir).select(col("o_custkey"))
      .join(Tables.customer(spark, dir).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("orders").as("table_name"),
        lit("o_custkey_fk_customer").as("check_name"),
        col("n").cast("long").as("n_violations"))
    val orphanLines = Tables.lineitem(spark, dir).select(col("l_orderkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("lineitem").as("table_name"),
        lit("l_orderkey_fk_orders").as("check_name"),
        col("n").cast("long").as("n_violations"))

    Seq(unnest(ordersChecks), unnest(lineitemChecks), unnest(customerChecks),
        unnest(documentChecks), orphanOrders, orphanLines)
      .reduce(_.unionAll(_))
      .withColumn("status",
        when(col("n_violations") === 0, lit("pass")).otherwise(lit("fail")))
      .orderBy(col("table_name"), col("check_name"))
  }

  /** END-TO-END gated promotion ([[graft.engine.ExtractLoad.runGated]]):
    * two full extract→gate→load runs against scratch bronze dirs — a
    * CLEAN batch (the orders fixture) that passes every expectation and
    * promotes, and a TAINTED twin (nulls injected into o_custkey on a
    * deterministic 1/97 slice) that must be REJECTED whole: `rows_landed`
    * is read back FROM DISK, so the row proves the write actually
    * happened (clean) or actually didn't (tainted) — not just that a
    * flag was computed. The reference gates promotion only on count > 0
    * (`extract_load_template.py:78`); this is that gate grown into the
    * expectation suite every bronze→silver hop needs.
    *
    * Scale shape: the whole gate — rule counts AND the RI orphan count —
    * is ONE aggregation job per batch (map-side partials; the RI parent
    * joins in as a distinct-key marker relation, see
    * [[graft.engine.DataQuality.gateReport]]); the load itself is the
    * partitioned replace-partition write [[graft.engine.ExtractLoad.run]]
    * uses. Nothing here is fixture-sized-only. */
  def dqGatedPromotion(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.{DataQuality => DQ, ExtractLoad, Fs}
    val rules = Seq(
      DQ.NotNull("o_custkey"),
      DQ.InRange("o_totalprice", 0, 1000000000),
      DQ.Unique("o_orderkey"))
    val ri = Seq(DQ.Ri("fk_o_custkey_customer", "o_custkey",
      Tables.customer(spark, dir).select(col("c_custkey")), "c_custkey"))
    def runBatch(tag: String, src: DataFrame): DataFrame = {
      val ck = Fs.scratch(s"graft_dqg_ck_$tag", dir)
      val out = Fs.scratch(s"graft_dqg_out_$tag", dir)
      Fs.deleteDir(spark, ck); Fs.deleteDir(spark, out)
      val (_, report) = ExtractLoad.runGated(spark, src, "orders",
        "o_orderkey", "o_orderdate", ck, out, "2024-01-01", rules, ri)
      // landed count comes off DISK — the end-to-end proof; a rejected
      // batch never writes `out`
      val landed = if (Fs.exists(spark, out)) Fs.readParquet(spark, out).count() else 0L
      report.withColumn("batch", lit(tag)).withColumn("rows_landed", lit(landed))
    }
    val clean = Tables.orders(spark, dir)
    val tainted = clean.withColumn("o_custkey",
      when(pmod(col("o_orderkey"), lit(97)) === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")))
    // r16 (opt guide §2.6): the two batches are independent work units
    // (disjoint scratch checkpoints/outputs, no read-after-write between
    // them) — run them from two driver threads so the tainted batch's
    // gate aggregate back-fills executors idled by the clean batch's
    // write tail. Same report rows, same disk evidence, ~the longer
    // batch's wall-clock instead of the sum.
    val Seq(cleanRep, taintedRep) = graft.engine.Par.runAll(
      () => runBatch("clean", clean),
      () => runBatch("tainted", tainted))
    cleanRep.unionAll(taintedRep)
      .select(col("batch"), col("rule"), col("n_rows"), col("n_violations"),
        col("passed"), col("promoted"), col("rows_landed"))
      .orderBy(col("batch"), col("rule"))
  }
}
