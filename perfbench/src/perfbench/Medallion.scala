package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Dag, DimDate, ExtractLoad, Layers, Manifest, Mv, Scd2, XmlShred}
import graft.queries.Marts

/** The reference's sales, product, customer and address pipelines as one
  * `engine.Dag`: watermark extract to bronze, conformed silver tables,
  * gold (fact, SCD2 product dimension, shredded demographics, date and
  * customer dimensions) and marts. The same DAG does the full load (from
  * empty checkpoints) and every incremental refresh (from the checkpoints
  * the previous run left).
  *
  * Layout under `out`: `bronze/<t>` and `ckpt/<t>` (ExtractLoad),
  * `silver/<t>.parquet` (Layers partition replace, readable by the
  * `queries.Marts` builders), `gold/<name>` and `mart/<name>` (Manifest
  * tables, the snapshots dashboards read). */
object Medallion {

  val facts: Seq[String] = Seq("orders", "lineitem", "events")
  val dims: Seq[String] = Seq("part", "supplier", "customer", "nation", "region")
  val tables: Seq[String] = facts ++ dims
  val key: Map[String, String] = Map(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey", "events" -> "event_id",
    "part" -> "p_partkey", "supplier" -> "s_suppkey", "customer" -> "c_custkey",
    "nation" -> "n_nationkey", "region" -> "r_regionkey")

  /** SCD2 product dimension; the price is tracked as integer cents
    * (`Scd2.attrHash` needs engine-portable renderings). */
  val productCfg: Scd2.Config = Scd2.Config("p_partkey",
    Seq("p_name", "p_brand", "p_type", "p_size", "price_cents"),
    recencyCol = Some("modified_at"))

  val marts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "sales_summary" -> ((s, d) => Marts.salesSummary(s, d)),
    "sales_summary_calendar" -> ((s, d) => Marts.salesSummaryCalendar(s, d)),
    "top_products" -> ((s, d) => Marts.topProducts(s, d)),
    "product_enriched" -> ((s, d) => Marts.productEnriched(s, d)))

  /** Calendar span of the generated orders, as `Marts.salesSummaryCalendar` uses it. */
  val calendarStart = "1995-01-01"
  val calendarDays = 2557
}

final class Medallion(spark: SparkSession, trace: Trace, src: String, out: String,
    parallelism: Int) {
  import Medallion._

  private val bronze = s"$out/bronze"
  private val ckpt = s"$out/ckpt"
  private val silver = s"$out/silver"
  private val gold = s"$out/gold"
  private val mart = s"$out/mart"

  /** Rows one extract loaded and the bronze `batch_id` it wrote them under. */
  final case class Loaded(rows: Long, batchId: Long)

  /** Count `n` Manifest commits against the innermost open span. */
  private def commit[T](n: Int)(body: => T): T = {
    val r = body
    trace.annotate(trace.current, "commits", n.toDouble)
    r
  }

  /** Bytes and files a Layers call added under `path`, in traced runs. */
  private def layersWrite(name: String, path: String)(body: => Unit): Unit = {
    val p = java.nio.file.Paths.get(path)
    val before = if (trace.enabled) Disk.listing(p) else Map.empty[String, Long]
    val id = trace.span("layers", name) { body; trace.current }
    if (trace.enabled) {
      val added = Disk.added(p, before)
      trace.annotate(id, "bytes_written", added.values.sum.toDouble)
      trace.annotate(id, "files_written", added.size.toDouble)
    }
  }

  /** Time to the executed plan, measured in traced runs before the write
    * plans the same query again. The probe has a span of its own, so its
    * time and any job it starts are not charged to the layer. */
  private def planned(df: DataFrame): DataFrame = {
    if (trace.enabled) {
      val layer = trace.current
      trace.span("probe", "marts.planning_s") {
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan
        trace.annotate(layer, "planning_s", (System.nanoTime() - t0) / 1e9)
      }
    }
    df
  }

  /** One DAG run: `ingestionDate` names the bronze partition this run
    * writes, `asOf` the SCD2 effective date of the versions it opens. */
  def run(ingestionDate: String, asOf: String): Dag.Report = {
    val loaded = new ConcurrentHashMap[String, Loaded]()
    def rows(t: String) = loaded.get(t).rows
    def batch(t: String) = loaded.get(t).batchId

    trace.span("dag", "medallion") {
      val dagSpan = trace.current
      val deps = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
      val bodies = scala.collection.mutable.Map.empty[String, () => Unit]
      def task(name: String, after: String*)(body: => Unit): Unit = {
        deps(name) = after
        bodies(name) = () => body
      }

      for (t <- tables) {
        task(s"extract.$t") {
          trace.span("extract_load", t) {
            val prev = ExtractLoad.readCheckpoint(spark, s"$ckpt/$t").map(_.last_id).getOrElse(-1L)
            val n = ExtractLoad.run(spark, spark.read.parquet(s"$src/$t.parquet"), t, key(t),
              "modified_at", s"$ckpt/$t", s"$bronze/$t", ingestionDate)
            loaded.put(t, Loaded(n, prev))
            trace.annotate(trace.current, "rows_loaded", n.toDouble)
          }
        }
        task(s"silver.$t", s"extract.$t") {
          if (rows(t) > 0) {
            val all = spark.read.parquet(s"$bronze/$t")
            if (facts.contains(t))
              layersWrite(t, s"$silver/$t.parquet") {
                Layers.replacePartitionsPath(
                  all.filter(col("batch_id") === batch(t)).drop("ingestion_date"),
                  s"$silver/$t.parquet", Seq("batch_id"))
              }
            else
              // conformed dimension: the latest version of every key, as
              // one snapshot partition replaced atomically
              layersWrite(t, s"$silver/$t.parquet") {
                val w = Window.partitionBy(col(key(t))).orderBy(col("modified_at").desc)
                Layers.replacePartitionsPath(
                  all.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
                    .drop("__rn", "ingestion_date", "batch_id").withColumn("snap", lit(0)),
                  s"$silver/$t.parquet", Seq("snap"))
              }
          }
        }
      }

      task("gold.fact_sales", "silver.orders", "silver.lineitem") {
        if (rows("lineitem") > 0) trace.span("marts", "fact_sales") {
          val fact = Marts.factSales(spark, silver)
            .withColumn("order_month", (col("order_date_key") / 100).cast("int"))
          // a refresh rebuilds only the order months its new orders fall in
          val scoped =
            if (batch("orders") < 0) fact
            else {
              val months = spark.read.parquet(s"$silver/orders.parquet")
                .filter(col("batch_id") === batch("orders"))
                .select(date_format(col("o_orderdate"), "yyyyMM").cast("int")).distinct()
                .collect().map(_.getInt(0)).toSeq
              fact.filter(col("order_month").isin(months: _*))
            }
          commit(1)(Manifest.replacePartitions(planned(scoped), s"$gold/fact_sales", Seq("order_month")))
        }
      }

      task("gold.revenue_by_month", "gold.fact_sales") {
        if (rows("lineitem") > 0) trace.span("mv", "revenue_by_month") {
          val state = s"$gold/revenue_by_month_state"
          val keys = Seq("order_month")
          val fact = Manifest.read(spark, s"$gold/fact_sales")
          // the new orders are exactly the keys above the previous watermark
          val delta = Mv.state(fact.filter(col("order_key") > batch("orders")), keys,
            col("net_revenue"))
          val next =
            if (Manifest.currentVersion(spark, state).isEmpty) delta
            else Mv.merge(Seq(Manifest.read(spark, state), delta), keys)
          commit(2) {
            Manifest.write(next, state)
            Manifest.write(Mv.serve(Manifest.read(spark, state), keys), s"$mart/revenue_by_month")
          }
        }
      }

      task("gold.dim_product", "silver.part") {
        if (rows("part") > 0) {
          val scd2Span = trace.span("scd2", "dim_product") {
            val path = s"$gold/dim_product"
            def cents(df: DataFrame) = df
              .withColumn("price_cents", round(col("p_retailprice") * 100).cast("long"))
              .select((productCfg.businessKey +: productCfg.trackedCols :+ "modified_at").map(col): _*)
            val next =
              if (Manifest.currentVersion(spark, path).isEmpty)
                Scd2.initialLoad(cents(spark.read.parquet(s"$silver/part.parquet")), productCfg, asOf)
              else
                Scd2.applyChanges(Manifest.read(spark, path),
                  cents(spark.read.parquet(s"$bronze/part").filter(col("batch_id") === batch("part"))),
                  productCfg, asOf)
            commit(1)(Manifest.write(next, path))
            trace.current
          }
          // traced runs only: count the versions this run opened, in a
          // span of its own so the count's job is not charged to Scd2
          if (trace.enabled) trace.span("probe", "scd2.rows_changed") {
            val opened = Manifest.read(spark, s"$gold/dim_product")
              .filter(col(productCfg.effectiveCol) === lit(asOf).cast("date")).count()
            trace.annotate(scd2Span, "rows_changed", opened.toDouble)
          }
        }
      }

      task("gold.customer_demographics", "silver.customer") {
        if (rows("customer") > 0) trace.span("xml_shred", "customer_demographics") {
          commit(1)(Manifest.write(XmlShred.shred(spark, silver), s"$gold/customer_demographics"))
        }
      }

      task("gold.dim_customer", "silver.customer", "silver.nation", "silver.region") {
        if (rows("customer") + rows("nation") + rows("region") > 0) trace.span("marts", "dim_customer") {
          commit(1)(Manifest.write(planned(Marts.dimCustomer(spark, silver)), s"$gold/dim_customer"))
        }
      }

      task("gold.dim_date") {
        trace.span("dim_date", "dim_date") {
          commit(1)(Manifest.write(DimDate.generate(spark, calendarStart, calendarDays), s"$gold/dim_date"))
        }
      }

      val martDeps = Map(
        "sales_summary" -> Seq("lineitem", "orders", "part", "customer", "nation", "region"),
        "sales_summary_calendar" -> Seq("lineitem", "orders", "part", "customer", "nation", "region"),
        "top_products" -> Seq("lineitem", "part"),
        "product_enriched" -> Seq("lineitem", "part", "supplier", "nation"))
      for ((name, build) <- marts) {
        val on = martDeps(name)
        task(s"mart.$name", on.map("silver." + _): _*) {
          if (on.exists(rows(_) > 0)) trace.span("marts", name) {
            commit(1)(Manifest.write(planned(build(spark, silver)), s"$mart/$name"))
          }
        }
      }

      // Kahn wave of each task (the wave Dag.run starts it in), so the
      // trace can charge idle slots at wave barriers
      val wave = scala.collection.mutable.Map.empty[String, Int]
      def waveOf(n: String): Int = wave.getOrElseUpdate(n, (deps(n).map(waveOf) :+ -1).max + 1)
      val tasks = deps.keys.toSeq.map { n =>
        Dag.Task(n, deps(n), () => trace.span("glue", n, parent = dagSpan,
          attrs = Map("wave" -> waveOf(n).toDouble))(bodies(n)()))
      }
      val report = Dag.run(tasks, parallelism)
      trace.annotate(dagSpan, "retries", report.attempts.values.map(_ - 1).sum.toDouble)
      report
    }
  }
}
