package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Fns, Tables}

/** Operators beyond the reference's literal surface that a production
  * mart/training-data pipeline needs: hierarchical rollups, set
  * operations, and embedding maintenance (normalization + int8
  * quantization for ANN index builds).
  */
object Extras {

  /** ROLLUP region → nation subtotals + grand total (hierarchy mart).
    * NULL grouping indicators are replaced with sentinels so ordering is
    * total and engine-portable. */
  def salesRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        Fns.money(Fns.sumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("total_revenue"),
        count(lit(1)).as("line_count"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("total_revenue"), col("line_count"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  /** Set operations (SURVEY §2.7 — unused by the reference, covered for
    * completeness): customers ordering in both years (INTERSECT), only
    * the first year (EXCEPT), either year (UNION). */
  def customerYearSets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def custIn(year: Int) =
      o.filter(org.apache.spark.sql.functions.year(col("o_orderdate")) === year)
        .select(col("o_custkey"))
    val y1 = custIn(1997); val y2 = custIn(1998)
    val both    = y1.intersect(y2).withColumn("set_op", lit("both_97_98"))
    val only97  = y1.except(y2).withColumn("set_op", lit("only_97"))
    val either  = y1.union(y2).distinct().withColumn("set_op", lit("either"))
    both.unionByName(only97).unionByName(either)
      .groupBy(col("set_op")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("set_op"))
  }

  /** Embedding maintenance: L2 norm, unit-normalized checksum, and int8
    * scalar quantization (symmetric, per-vector max-abs scale) — the
    * standard prep for ANN index builds. All arithmetic is elementwise
    * double work, bit-identical across engines. */
  def embeddingNormQuant(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm", expr(
        "sqrt(aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))"))
      .withColumn("maxabs", expr(
        // 1e-30 floor guards the all-zero vector (NaN → engine-divergent)
        "greatest(aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x))), CAST(1e-30 AS DOUBLE))"))
      .withColumn("q8", expr(
        "transform(v, x -> CAST(floor(x / maxabs * 127 + 0.5) AS INT))"))
      .select(
        col("vec_id"),
        Fns.money(col("norm")).as("l2_norm"),
        Fns.money(expr(
          "aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x / greatest(norm, CAST(1e-30 AS DOUBLE)))")).as("unit_sum"),
        expr("aggregate(q8, 0, (acc, x) -> acc + x)").as("q8_sum"),
        greatest(lit(0), expr("array_max(q8)")).as("q8_max"))
      .orderBy(col("vec_id"))

  /** As-of join: every event gets the latest signup of the same user at
    * or before its timestamp — the point-in-time lookup every
    * feature-store/training pipeline needs (one shuffle, no range
    * nested-loop; see [[graft.operators.AsOf]]). */
  def eventsAsOfSignup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
    graft.operators.AsOf.joinAsOf(
      ev.select(col("event_id"), col("user_id"), col("ts")),
      signups, key = "user_id", leftTs = "ts", rightTs = "ts",
      payload = Map("signup_event_id" -> "last_signup_event_id"))
      .orderBy(col("event_id"))
  }

  /** Pivot: event counts per user bucket × event type (explicit value
    * list keeps the output schema deterministic). */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_bucket"))

  /** Semi/anti joins (EXISTS / NOT EXISTS): per-segment counts of
    * customers with and without recent orders. The fact side is only
    * probed — no payload shuffle, and Catalyst broadcasts the distinct
    * key set. */
  def customerOrderPresence(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val recent = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) >= 2000)
      .select(col("o_custkey"))
    val withOrders = c.join(recent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n")).withColumn("cohort", lit("active"))
    val withoutOrders = c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n")).withColumn("cohort", lit("inactive"))
    withOrders.unionByName(withoutOrders)
      .select(col("cohort"), col("mktsegment"), col("n"))
      .orderBy(col("cohort"), col("mktsegment"))
  }

  /** GROUPING SETS mart: independent subtotal dimensions in one pass
    * (region-only, segment-only, grand total). */
  def salesGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    Tables.region(spark, dir).createOrReplaceTempView("region")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql("""
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(c_mktsegment, 'ALL') AS mktsegment,
             floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_price,
             count(*) AS n_orders
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
      ORDER BY region_name, mktsegment
    """)
  }

  /** Exact top-3 orders per priority via the bounded-heap `topk_by`
    * aggregate ([[graft.functions.TopKByAgg]]) — O(K) state per group
    * instead of a per-group sort, ordered value DESC then id ASC. */
  def topOrdersPerPriority(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(expr(s"topk_by(o_totalprice, o_orderkey, $k)").as("topk"))
      .select(col("priority"), posexplode(col("topk")).as(Seq("idx", "entry")))
      .select(
        col("priority"),
        (col("idx") + 1).as("rank"),
        col("entry.payload").as("order_key"),
        Fns.money(col("entry.ord")).as("total_price"))
      .orderBy(col("priority"), col("rank"))

  /** Exact interpolated percentiles of order value per priority. */
  def orderValuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        Fns.money(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        Fns.money(expr("percentile(o_totalprice, 0.9)")).as("p90"),
        Fns.money(min(col("o_totalprice"))).as("min_price"),
        Fns.money(max(col("o_totalprice"))).as("max_price"))
      .orderBy(col("priority"))

  /** True RANGE-frame sliding window: 7-day moving revenue over daily
    * totals, framed on the DAY NUMBER (`RANGE BETWEEN 6 PRECEDING`), so
    * calendar gaps are respected — a ROWS frame would silently span
    * missing days. One shuffle for the daily rollup; the window runs on
    * the (tiny) per-day relation. */
  def movingRevenue7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("day_num"))
      .agg(Fns.money(Fns.sumMoney(col("o_totalprice"))).as("day_revenue"),
        count(lit(1)).as("n_orders"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day_num")).rangeBetween(-6, 0)
    daily
      .withColumn("rev7d", Fns.money(
        sum(col("day_revenue").cast("decimal(38,8)")).over(w).cast("double")))
      .withColumn("orders7d", sum(col("n_orders")).over(w))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("day_num").cast("int")).as("order_date"),
        col("day_revenue"), col("n_orders"), col("rev7d"), col("orders7d"))
      .orderBy(col("order_date"))
  }

  /** The analytic-function family over each customer's order sequence:
    * lag/lead, first/last value with explicit frames, ntile quartiles,
    * percent_rank and cume_dist — exact rationals on both engines, so
    * hash-comparable without rounding tricks. */
  def orderAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byCustFull = byCust.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        col("o_orderdate").as("order_date"),
        Fns.money(col("o_totalprice")).as("price"),
        row_number().over(byCust).as("seq"),
        Fns.money(lag(col("o_totalprice"), 1).over(byCust)).as("prev_price"),
        Fns.money(lead(col("o_totalprice"), 1).over(byCust)).as("next_price"),
        Fns.money(first(col("o_totalprice")).over(byCust)).as("first_price"),
        Fns.money(last(col("o_totalprice")).over(byCustFull)).as("last_price"),
        ntile(4).over(byCust).as("quartile"),
        Fns.money(percent_rank().over(byCust)).as("pct_rank"),
        Fns.money(cume_dist().over(byCust)).as("cume"))
      .orderBy(col("custkey"), col("seq"))
  }

  /** CUBE over (priority, order year): all four grouping combinations —
    * the lattice ROLLUP cannot produce. NULL indicators → sentinels for
    * total, portable ordering (same convention as [[salesRollup]]). */
  def salesCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderpriority"),
        year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("total_value"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("order_year"), lit(-1)).as("order_year"),
        col("n_orders"), col("total_value"))
      .orderBy(col("priority"), col("order_year"))

  /** Wide→long UNPIVOT of per-priority measures via `stack` (the Spark
    * idiom for UNPIVOT; measures share a double type). */
  def priorityMeasuresUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("total_value"),
        Fns.money(Fns.sumMoney(col("o_totalprice")) / count(lit(1))).as("avg_value"))
      .select(col("priority"), expr(
        """stack(3, 'n_orders', n_orders,
                    'total_value', total_value,
                    'avg_value', avg_value) AS (measure, measure_value)"""))
      .orderBy(col("priority"), col("measure"))

  /** Per-CUSTOMER top-2 orders via the Catalyst bounded-heap aggregate
    * (`topk_by`, [[graft.functions.TopKByAgg]]) — the high-cardinality
    * per-key top-k where the window form hurts most: the window shuffles
    * and sorts every order; the aggregate's map-side partials shuffle at
    * most k rows per (customer, map task). */
  def topOrdersPerCustomer(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(expr(s"topk_by(o_totalprice, o_orderkey, $k)").as("topk"))
      .select(col("custkey"), posexplode(col("topk")).as(Seq("idx", "entry")))
      .select(
        col("custkey"),
        (col("idx") + 1).cast("int").as("rank"),
        col("entry.payload").as("orderkey"),
        Fns.money(col("entry.ord")).as("totalprice"))
      .orderBy(col("custkey"), col("rank"))
  }

  /** A6: ordinal GROUP BY, SQL form — the reference's
    * `business_sales_summary.sql:32` groups by `1, 2, …, 18`; this mart
    * exercises the same positional-reference resolution
    * (`spark.sql.groupByOrdinal`, on by default). */
  def ordersPriorityOrdinal(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_ord_v")
    spark.sql("""
      SELECT o_orderpriority AS priority,
             CAST(year(o_orderdate) AS INT) AS order_year,
             count(*) AS n_orders,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
      FROM orders_ord_v
      GROUP BY 1, 2
      ORDER BY 1, 2""")
  }

  /** Equal-width 20-bucket histogram of order values — the profile query
    * behind every data-exploration UI. min/max arrive as a 1-row
    * broadcast scalar (no driver action); the bucket arithmetic is
    * identical left-to-right IEEE on both engines. A degenerate corpus
    * where every value is equal (mx = mn) collapses to bucket 0 instead
    * of dividing 0/0 into NaN buckets. */
  def orderValueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val mm = o.agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    o.crossJoin(broadcast(mm))
      .withColumn("bucket",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((col("o_totalprice") - col("mn")) / (col("mx") - col("mn")) * 20), lit(19L))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("bucket_value"))
      .orderBy(col("bucket"))
  }

  /** EQUI-DEPTH decile histogram — the distribution-aware sibling of
    * [[orderValueHistogram]]: bucket boundaries are the value deciles,
    * so every bucket holds ~10% of rows regardless of skew (an
    * equal-width histogram piles a long-tailed measure into one bin).
    *
    * Scale shape: the textbook `ntile(10)` needs a TOTAL ORDER — a
    * single-partition window sort over the whole table, the global-sort
    * anti-pattern. Instead: ONE exact-percentile aggregate produces the
    * 9 boundaries (money-rounded), they attach as a 1-row broadcast, and
    * each row counts the boundaries below it with an `aggregate` HOF —
    * per-row work, no sort, no shuffle beyond the final 10-group agg.
    * Same percentile-at-scale caveat as the quality gate: swap
    * `approx_percentile` boundaries in at real scale (spec-proven
    * drift-bounded). */
  def orderValueHistogramEqDepth(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val bounds = o.agg(expr(
      """transform(percentile(o_totalprice,
           array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)),
         b -> floor(b * 10000 + 0.5) / 10000)""").as("bs"))
    o.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr(
        "aggregate(bs, 0, (acc, b) -> acc + IF(o_totalprice > b, 1, 0))"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        Fns.money(min(col("o_totalprice"))).as("lo"),
        Fns.money(max(col("o_totalprice"))).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Per-returnflag correlation + sample stddev of (quantity,
    * extendedprice) computed from DECIMAL(38,8) power sums — the naive
    * `corr()`/`stddev()` aggregates accumulate doubles whose value
    * depends on partition merge order, so they can never hash-match a
    * serial oracle; decimal power sums are order-independent, and the
    * per-group scalar algebra on top is plain deterministic IEEE. */
  def lineitemStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
    val sums = li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        Fns.sumMoney(col("x")).cast("double").as("sx"),
        Fns.sumMoney(col("y")).cast("double").as("sy"),
        Fns.sumMoney(Fns.money(col("x") * col("y"))).cast("double").as("sxy"),
        Fns.sumMoney(Fns.money(col("x") * col("x"))).cast("double").as("sxx"),
        Fns.sumMoney(Fns.money(col("y") * col("y"))).cast("double").as("syy"))
    sums.select(
      col("l_returnflag"),
      col("n").cast("long").as("n_lines"),
      Fns.money((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"),
      Fns.money(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
        (col("n") * (col("n") - 1)))).as("stddev_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Decile segmentation of customers by lifetime revenue — exact SQL
    * `ntile(10)` semantics WITHOUT the trap in how engines plan it: an
    * unpartitioned `ntile() OVER (ORDER BY …)` window funnels every row
    * through ONE task (Spark warns; it dies at 100 TB). Here the global
    * rank comes from [[graft.engine.Scd2.assignIds]] (range partition +
    * per-partition zipWithIndex — sorts stay distributed), the row count
    * rides a 1-row broadcast, and the tile is computed from (rank, n)
    * with ntile's exact fill rule: the first `n mod k` tiles hold
    * `⌈n/k⌉` rows, the rest `⌊n/k⌋`. The rank order (revenue, custkey)
    * is total, so tiles are deterministic. */
  def customerNtileSegments(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(Fns.money(Fns.sumMoney(col("o_totalprice"))).as("revenue"))
      .withColumn("ord", struct(col("revenue"), col("o_custkey")))
    val ranked = graft.engine.Scd2.assignIds(rev, "ord", "rank").drop("ord")
    val n = ranked.agg(count(lit(1)).as("n")).select(col("n"))
    val small = floor(col("n") / k)            // ⌊n/k⌋
    val nBig = col("n") % k                    // tiles that get one extra row
    val cut = nBig * (small + 1)               // ranks 1..cut sit in the big tiles
    ranked.crossJoin(broadcast(n))
      .withColumn("decile",
        when(col("rank") - 1 < cut, floor((col("rank") - 1) / (small + 1)) + 1)
          .otherwise(nBig + floor((col("rank") - 1 - cut) / small) + 1)
          .cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("revenue")).as("min_revenue"),
        max(col("revenue")).as("max_revenue"),
        Fns.money(Fns.sumMoney(col("revenue"))).as("total_revenue"))
      .orderBy(col("decile"))
  }

  /** [[idempotentReload]]'s snapshot-isolated twin: the same double-load
    * retry driven through the manifest-committed table layer
    * ([[graft.engine.Manifest]]) — immutable commit dirs + one atomic
    * manifest swap per load, so the retry converges to single-copy
    * numbers AND a concurrent reader can never catch a partition absent
    * (the window the rename-publish path documents). Ends with a vacuum
    * so the superseded first commit's files are actually reclaimed. */
  def manifestReload(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.engine.Fs.scratch("graft_man", dir)
    graft.engine.Fs.deleteDir(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("ingestion_month",
        date_format(col("o_orderdate"), "yyyyMM").cast("int"))
    graft.engine.Manifest.replacePartitions(src, out, Seq("ingestion_month"))
    graft.engine.Manifest.replacePartitions(src, out, Seq("ingestion_month")) // the retry
    graft.engine.Manifest.vacuum(spark, out)
    graft.engine.Manifest.read(spark, out)
      .groupBy(col("ingestion_month"))
      .agg(count(lit(1)).as("n_orders"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("total_value"))
      .orderBy(col("ingestion_month"))
  }

  /** Year-over-year growth: monthly revenue joined to the same month one
    * year earlier — the period-over-period comparison behind every BI
    * dashboard. Expressed as a self-equi-join of the MONTHLY aggregate
    * on (year-1, month) rather than a `lag(12)` window: the join needs
    * no global ordering (no single-task window), tolerates missing
    * months (lag(12) silently reads the wrong row across gaps), and the
    * joined relation is month-cardinality. Growth ratio is guarded for
    * a zero prior month and reported money-rounded off raw IEEE
    * division. */
  def yoyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mo"))
      .agg(Fns.money(Fns.sumMoney(col("o_totalprice"))).as("revenue"))
    val prior = monthly.select((col("yr") + 1).as("yr"), col("mo"),
      col("revenue").as("prior_revenue"))
    monthly.join(prior, Seq("yr", "mo"), "left")
      .select(col("yr"), col("mo"), col("revenue"), col("prior_revenue"),
        when(col("prior_revenue").isNull || col("prior_revenue") === 0, lit(null))
          .otherwise(Fns.money((col("revenue") - col("prior_revenue")) / col("prior_revenue")))
          .as("yoy_growth"))
      .orderBy(col("yr"), col("mo"))
  }

  /** Market-basket co-occurrence: the 20 part pairs most often ordered
    * together. Pairs are generated per order via a self-join of the
    * per-order DISTINCT part list on the order key with `a < b` (each
    * unordered pair once) — work is bounded by Σ basket² per order, not
    * corpus², and the pair aggregate is an ordinary hash agg with
    * map-side partials. Top-20 via TakeOrderedAndProject with a full
    * deterministic tie-break. */
  def basketPairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
    items.withColumnRenamed("part", "part_a")
      .join(items.withColumnRenamed("part", "part_b"), "okey")
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** Time-series gap fill with forward carry: the complete day spine
    * from min to max order date (built by `sequence()` off a 1-row
    * aggregate — no driver action, no generator UDF), left-joined to the
    * daily aggregate, missing days carried forward with
    * `last(_, ignoreNulls)`. The fill window is global-ordered but runs
    * over the DAILY AGGREGATE (a few thousand rows at any corpus size —
    * days, not orders), the same deliberate smallness argument as
    * [[movingRevenue7d]]; the heavy aggregation below it is fully
    * distributed. */
  def dailyRevenueFilled(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("day_revenue"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("day_revenue").isNull.as("is_gap"),
        last(col("day_revenue"), ignoreNulls = true)
          .over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("revenue_filled"))
      .orderBy(col("day"))
  }

  /** Incremental materialized-view maintenance proof wired into the
    * oracle gate: the daily-revenue MV is built from THREE disjoint
    * increments of orders (arrival slices by hashed order key), each
    * reduced to partial-aggregate state ([[graft.engine.Mv.state]]) and
    * merged pairwise — and the served result must equal the oracle's
    * one-shot full aggregate exactly. Works because the state is a
    * commutative monoid (COUNT + DECIMAL SUM): merge order cannot change
    * a bit. This is the refresh path that replaces rescanning 100 TB of
    * history with a delta-sized merge. */
  def mvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("day", to_date(col("o_orderdate")))
    // deterministic 3-way arrival split; hash first — consecutive keys
    // sharing a factor with the modulus would skew raw pmod slices
    val slice = pmod(Fns.h64(col("o_orderkey").cast("string")), lit(3))
    val states = (0 until 3).map(i =>
      graft.engine.Mv.state(o.filter(slice === i), Seq("day"), col("o_totalprice")))
    val merged = graft.engine.Mv.merge(
      Seq(graft.engine.Mv.merge(states.take(2), Seq("day")), states(2)), Seq("day"))
    graft.engine.Mv.serve(merged, Seq("day"))
      .withColumnRenamed("n_rows", "n_orders")
      .orderBy(col("day"))
  }

  /** MERGE-semantics proof wired into the oracle gate: load orders
    * partitioned by month, then RE-run the identical load. With
    * [[graft.engine.Layers.replacePartitionsPath]] the second run
    * replaces its own partitions, so the re-loaded table aggregates to
    * exactly the oracle's single-copy numbers — the reference's append
    * defect (`dags/sales.py:102-106`) would double every count here. */
  def idempotentReload(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.engine.Fs.scratch("graft_idem", dir)
    // clean slate: dynamic overwrite only replaces partitions present in
    // the current load, so stale partitions from an older fixture at the
    // same path would otherwise survive and pollute the aggregate
    graft.engine.Fs.deleteDir(spark, out)
    val src = Tables.orders(spark, dir)
      .withColumn("ingestion_month",
        date_format(col("o_orderdate"), "yyyyMM").cast("int"))
    graft.engine.Layers.replacePartitionsPath(src, out, Seq("ingestion_month"))
    graft.engine.Layers.replacePartitionsPath(src, out, Seq("ingestion_month")) // the retry
    graft.engine.Fs.readParquet(spark, out)
      .groupBy(col("ingestion_month"))
      .agg(count(lit(1)).as("n_orders"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("total_value"))
      .orderBy(col("ingestion_month"))
  }

  /** Compounded month-over-month revenue index (base 100): each month's
    * value is the PREVIOUS month's index times the revenue ratio,
    * money-rounded at every step. The per-step rounding makes the
    * recurrence load-bearing — no closed form (`100 · revₙ/rev₁` or
    * `exp(sum(log))`) reproduces it — and the oracle replays the
    * identical recursion as a DuckDB `WITH RECURSIVE`.
    *
    * Scale shape: the recurrence input is the monthly AGGREGATE (bounded
    * cardinality — months, not orders), so after one distributed
    * hash-agg the chain runs inside a single `aggregate` HOF over the
    * sorted month array: one job, zero shuffles beyond the agg,
    * bit-identical left-to-right IEEE sequence. The native RECURSIVE CTE
    * twin is [[compoundIndexRecursive]] (spec-pinned equal) — UnionLoop
    * pays one Spark job per month, the right shape only when each
    * iteration is itself a big distributed relation. */
  def compoundIndex(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mo"))
      .agg(Fns.money(Fns.sumMoney(col("o_totalprice"))).as("revenue"))
    monthly
      .agg(expr("array_sort(collect_list(struct(yr, mo, revenue)))").as("ms"))
      .select(explode(expr(
        """aggregate(
             slice(ms, 2, size(ms) - 1),
             array(named_struct(
               'idx', 1, 'yr', ms[0].yr, 'mo', ms[0].mo,
               'revenue', ms[0].revenue,
               'index_value', CAST(100.0 AS DOUBLE))),
             (acc, x) -> array_append(acc, named_struct(
               'idx', element_at(acc, -1).idx + 1,
               'yr', x.yr, 'mo', x.mo, 'revenue', x.revenue,
               'index_value',
               floor(element_at(acc, -1).index_value
                     * (x.revenue / element_at(acc, -1).revenue)
                     * 10000 + 0.5) / 10000)))""")).as("r"))
      .select(col("r.idx").cast("int").as("idx"), col("r.yr").as("yr"),
        col("r.mo").as("mo"), col("r.revenue").as("revenue"),
        col("r.index_value").as("index_value"))
      .orderBy(col("idx"))
  }

  /** The RECURSIVE CTE twin of [[compoundIndex]] — Spark 4's native
    * `WITH RECURSIVE` (UnionLoop) running the identical recurrence, one
    * iteration per month. Kept as the coverage witness for recursive SQL
    * and spec-pinned equal to the HOF form; the queries-map entry uses
    * the HOF form because a driver-sized recurrence pays ~80 sequential
    * Spark jobs of pure fixed overhead here (measured 31 s vs 0.5 s at
    * sf0.1) — UnionLoop is the right shape only when each step is a big
    * distributed relation. */
  def compoundIndexRecursive(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("ci_orders")
    spark.sql(s"""
      WITH RECURSIVE monthly AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
               ${Fns.moneySql(Fns.sumMoneySql("o_totalprice"))} AS revenue
        FROM ci_orders GROUP BY 1, 2),
      seq AS (
        SELECT yr, mo, revenue,
               CAST(row_number() OVER (ORDER BY yr, mo) AS INT) AS idx
        FROM monthly),
      rec AS (
        SELECT idx, yr, mo, revenue, CAST(100.0 AS DOUBLE) AS index_value
        FROM seq WHERE idx = 1
        UNION ALL
        SELECT s.idx, s.yr, s.mo, s.revenue,
               ${Fns.moneySql("r.index_value * (s.revenue / r.revenue)")}
        FROM rec r JOIN seq s ON s.idx = r.idx + 1)
      SELECT idx, yr, mo, revenue, index_value FROM rec ORDER BY idx""")
  }

  /** Change-data-feed round trip on a manifest table (Delta's
    * `table_changes` consumer pattern): load orders partitioned by month
    * (v0), restate the latest month's prices at half value (v1 — the
    * classic late-correction rewrite), then read the v0→v1 feed — the
    * rewritten partition surfaces as full delete+insert and NO other
    * partition is scanned ([[graft.engine.Manifest.changeFeed]];
    * physical pin in `ManifestSpec`). The month to rewrite arrives as a
    * 1-row broadcast scalar, not a driver action. Downstream shape:
    * exactly what an incremental MV or replication consumer applies —
    * per-change-type row counts and money totals. */
  /** Max `ingestion_month` partition value of a manifest table, read
    * from the manifest log's entry list — driver-side metadata (the log
    * is one JSON file), zero Spark jobs. */
  private def latestMonth(spark: SparkSession, path: String): Int =
    graft.engine.Manifest.stateOrThrow(spark, path)
      .entries.map(_.part.stripPrefix("ingestion_month=").toInt).max

  /** The two-version orders store (v0 = orders committed by month, v1 =
    * the latest month restated at half price) — the shared READ-ONLY
    * input of [[manifestCdf]] and [[martIncrementalRefresh]], built once
    * per JVM ([[graft.engine.Derived.store]]): a versioned table's
    * history is long-lived state in production; re-committing the whole
    * fact per query was repeated setup, not the measured refresh/CDF
    * semantics. The restated month comes from the MANIFEST, not another
    * source scan: the partition values are driver-side metadata (max is
    * free), and the rewrite leg is a partition-pruned read of the one
    * affected month from committed v0. */
  private def ordersTwoVersionStore(spark: SparkSession, dir: String): String =
    graft.engine.Derived.store(spark, "orders_2v", dir) { out =>
      commitOrdersV0(spark, dir, out)
      val rewrite = graft.engine.Manifest
        .readPoint(spark, out, "ingestion_month", latestMonth(spark, out), Some(0L))
        .withColumn("o_totalprice", col("o_totalprice") / 2)
      graft.engine.Manifest.replacePartitions(rewrite, out, Seq("ingestion_month"))
      ()
    }

  /** The shared v0 commit choreography of the two manifest fixture
    * stores: orders with the yyyyMM ingestion month committed by month.
    * ONE definition so the CDF/refresh and snapshot-diff oracles can
    * assume identical v0 semantics; returns the month-stamped source
    * for the caller's restate leg. */
  private def commitOrdersV0(spark: SparkSession, dir: String,
      out: String): DataFrame = {
    val src = Tables.orders(spark, dir)
      .withColumn("ingestion_month",
        date_format(col("o_orderdate"), "yyyyMM").cast("int"))
    graft.engine.Manifest.replacePartitions(src, out, Seq("ingestion_month"))
    src
  }

  def manifestCdf(spark: SparkSession, dir: String): DataFrame = {
    val out = ordersTwoVersionStore(spark, dir)
    graft.engine.Manifest.changeFeed(spark, out, 0L, 1L)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n_rows"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("total_value"))
      .orderBy(col("_change_type"))
  }

  /** Row-level time-travel diff on a manifest table (round-11 brief #5
    * — the `DESCRIBE HISTORY`-plus-CDF consumer pattern): load orders
    * by month (v0), restate the latest month with a MIXED change — keys
    * ≡0 (mod 3) half-priced (update), ≡1 deleted, ≡2 cloned to new keys
    * (insert) with the originals untouched — then ask the manifest for
    * the v0→v1 row diff. Unchanged rows inside the rewritten partition
    * must NOT appear (value comparison, not partition membership), and
    * no other partition is scanned ([[graft.engine.Manifest
    * .snapshotDiff]] reads only net-changed entries; physical pin in
    * `ManifestSpec`). The oracle recomputes the same diff from the
    * transformation rules directly. */
  def manifestDiff(spark: SparkSession, dir: String): DataFrame = {
    // READ-ONLY two-version store with the mixed restate, built once per
    // JVM (the ordersTwoVersionStore rationale); this query measures
    // snapshotDiff, not the fixture commit
    val out = graft.engine.Derived.store(spark, "orders_2v_mixed", dir) { o =>
      val src = commitOrdersV0(spark, dir, o)
      // restate the BUSIEST month (ties → latest) — unlike manifest_cdf's
      // latest-month rewrite, the target must carry all three key classes,
      // and the tail month can be a single order (at sf0.001 it is ONE
      // key ≡1 mod 3, which would make the restated frame empty and the
      // partition replace a no-op). The argmax is an O(months) agg + one
      // driver row, same weight class as the gate report reads.
      val busiest = src.groupBy(col("ingestion_month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ingestion_month").desc)
        .head().getInt(0)
      val v0m = graft.engine.Manifest
        .readPoint(spark, o, "ingestion_month", busiest, Some(0L))
      val restated = v0m.filter(col("o_orderkey") % 3 =!= 1)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") / 2)
            .otherwise(col("o_totalprice")))
        .unionByName(v0m.filter(col("o_orderkey") % 3 === 2)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
      graft.engine.Manifest.replacePartitions(restated, o, Seq("ingestion_month"))
    }
    graft.engine.Manifest.snapshotDiff(spark, out, 0L, 1L, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("_change_type"),
        col("old_o_totalprice").as("old_price"),
        col("new_o_totalprice").as("new_price"))
      .orderBy(col("o_orderkey"), col("_change_type"))
  }

  /** CDF-driven incremental mart refresh — the composite the manifest
    * layer exists for: a mart over a versioned fact is refreshed by
    * recomputing ONLY the partitions the change feed names, and the
    * result must equal a full rebuild.
    *
    * Choreography: commit orders by month (v0) → build the mart state
    * from the TIME-TRAVELED v0 snapshot → restate the latest month at
    * half price (v1, the late-correction rewrite) → `changeFeed(0,1)`
    * names the affected month → keep every unaffected mart row as-is,
    * recompute only the affected month from the head snapshot, and
    * union the disjoint states ([[graft.engine.Mv]] mergeable partials).
    *
    * Scale shape: the refresh scans ONE month of the fact (changeFeed
    * reads only changed entries — physical pin in ManifestSpec) plus the
    * mart-sized keep side; a nightly full rebuild scans everything. The
    * oracle replays the FULL rebuild of the final state — equality IS
    * the incremental-refresh correctness proof. */
  def martIncrementalRefresh(spark: SparkSession, dir: String): DataFrame = {
    // the two-version store is shared READ-ONLY input with manifestCdf
    // (same v0 commit + latest-month restate choreography) — built once
    // per JVM; this query measures the refresh, not the fixture commit
    val out = ordersTwoVersionStore(spark, dir)
    val keys = Seq("ingestion_month", "priority")
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.withColumnRenamed("o_orderpriority", "priority")
    val mart0 = graft.engine.Mv.state(
      prep(graft.engine.Manifest.read(spark, out, Some(0L))), keys, col("o_totalprice"))
    val affected = graft.engine.Manifest.changeFeed(spark, out, 0L, 1L)
      .select(col("ingestion_month")).distinct()
    val keep = mart0.join(broadcast(affected), Seq("ingestion_month"), "left_anti")
    val fresh = graft.engine.Mv.state(
      prep(graft.engine.Manifest.read(spark, out))
        .join(broadcast(affected), Seq("ingestion_month")), keys, col("o_totalprice"))
    graft.engine.Mv.serve(keep.unionByName(fresh), keys)
      .orderBy(col("ingestion_month"), col("priority"))
  }

  /** LATERAL correlated subquery (SQL:2003 lateral derived table — the
    * "top-N per row" idiom BI tools emit): each customer row feeds a
    * correlated ORDER BY … LIMIT 2 subquery over orders. Catalyst
    * DECORRELATES this into the same window/aggregate shape as the
    * explicit rank query — no per-row re-execution survives in the
    * physical plan — so the lateral syntax costs nothing at scale; it's
    * the front-end surface this engine must accept, not a new operator.
    * Output is raw parquet doubles (no aggregation), so no rounding
    * discipline is needed for the oracle match. */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("lat_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("lat_orders")
    spark.sql("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM lat_customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM lat_orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
  }

  /** Relational division (the FOR-ALL operator class): customers who
    * have placed at least one order in EVERY priority class present in
    * the data — `R ÷ S` with the divisor discovered from the data
    * itself, not hard-coded.
    *
    * Scale shape: division-by-counting — one distinct-count hash agg per
    * customer compared against a 1-row broadcast scalar of the global
    * distinct count. No per-element anti-join cascade (the textbook
    * double-NOT-EXISTS plan, which at scale is |divisor| anti-joins),
    * one shuffle on the group key. */
  def customersAllPriorities(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val total = o.agg(countDistinct(col("o_orderpriority")).as("np"))
    o.groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("np_cust"),
        count(lit(1)).as("n_orders"),
        Fns.money(Fns.sumMoney(col("o_totalprice"))).as("total_value"))
      .join(broadcast(total), col("np_cust") === col("np"))
      .select(col("o_custkey"), col("n_orders"), col("total_value"))
      .orderBy(col("o_custkey"))
  }

  /** Winsorized (clipped) robust statistics per order priority: exact
    * p05/p95 bounds, values clamped into [p05, p95], then mean — the
    * outlier-robust feature-normalization step a training pipeline runs
    * before z-scoring heavy-tailed columns, with clip counts reported so
    * the tail mass is auditable.
    *
    * Scale shape: two passes over orders — one grouped exact-percentile
    * agg producing a PRIORITY-CARDINALITY bounds relation (broadcast), one
    * grouped clip-and-aggregate pass. The bounds are money-rounded BEFORE
    * clipping so every clipped value sits exactly on the 1e-4 grid, which
    * makes the decimal-accumulated mean ([[Fns.sumMoney]]) bit-identical
    * across engines. At 100 TB the exact percentile would be swapped for
    * `approx_percentile` exactly as in `quality_gate_per_lang` (same
    * plan shape, documented there). */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"), col("o_totalprice"))
    val bounds = o.groupBy(col("priority"))
      .agg(Fns.money(expr("percentile(o_totalprice, 0.05)")).as("lo"),
        Fns.money(expr("percentile(o_totalprice, 0.95)")).as("hi"))
    o.join(broadcast(bounds), "priority")
      .withColumn("clipped",
        least(greatest(col("o_totalprice"), col("lo")), col("hi")))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice") < col("lo")).cast("long")).as("n_clip_lo"),
        sum((col("o_totalprice") > col("hi")).cast("long")).as("n_clip_hi"),
        Fns.money(Fns.sumMoney(col("clipped")) / count(lit(1))).as("winsor_mean"),
        Fns.money(Fns.sumMoney(col("o_totalprice")) / count(lit(1))).as("raw_mean"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .orderBy(col("priority"))
  }
}
