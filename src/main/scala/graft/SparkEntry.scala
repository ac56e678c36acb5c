package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dedup.Dedup
import graft.Fns.{moneySql, sumMoneySql}
import graft.engine.{DimDate, XmlShred}
import graft.multimodal.Multimodal
import graft.queries.{Analytics, DataQuality, EventSequences, Events, Extras, Graphs, Marts, Scd2Queries}
import graft.sim.Similarity
import graft.text.TextAnalysis

/** Driver contract (SURVEY.md §7): one [[SparkEntry.Query]] per
  * implemented operator from SURVEY.md §2, pairing the Spark plan with
  * the DuckDB-dialect SQL the driver hash-compares it against.
  * Column names and deterministic ORDER BY are kept identical on both
  * sides; double aggregates are rounded at the output boundary so results
  * are invariant to partition/accumulation order. Oracles that extend or
  * nest another oracle compose the named fragments at the end of this
  * object; none is cut out of another query's text.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Marts.topProducts(spark, "/root/testdata/sf0.001")

  /** One contract entry: the Spark plan over a fixture directory and the
    * DuckDB oracle that proves it. */
  final case class Query(name: String, run: (SparkSession, String) => DataFrame,
      oracle: String)

  // ORACLE TYPING RULE: DuckDB returns sum(<any integer type>) as
  // HUGEINT, which pandas renders as float64 — the driver's hash is
  // dtype-sensitive, so any FINAL projected column that is a sum over an
  // integer column MUST carry an outer CAST(sum(...) AS BIGINT) to match
  // Spark's int64. Sums consumed only as division operands or grouping
  // keys are exempt (they become DOUBLE / never surface). Three strikes
  // taught this: r4 postings_index, r5 curation_pipeline + mixture_sample.
  lazy val table: Seq[Query] = Seq(
    Query("top_products", (s, d) => Marts.topProducts(s, d), """
      SELECT p_partkey, p_name, p_brand,
             floor((CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_revenue,
             floor((CAST(sum(CAST((l_quantity) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_qty,
             count(DISTINCT l_orderkey) AS order_count
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2, 3
      ORDER BY total_revenue DESC, p_partkey
      LIMIT 10
    """),
    Query("sales_summary", (s, d) => Marts.salesSummary(s, d), """
      SELECT r_name AS region_name, n_name AS nation_name,
             c_mktsegment AS mktsegment, p_brand AS brand,
             CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(quarter(o_orderdate) AS INT) AS order_quarter,
             floor((CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_revenue,
             floor((CAST(sum(CAST((l_quantity) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_qty,
             floor((CAST(sum(CAST((l_extendedprice) AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_price,
             floor((CAST(sum(CAST((l_extendedprice * l_discount) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_discount,
             count(DISTINCT l_orderkey) AS order_count,
             count(*) AS line_count
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN part     ON l_partkey = p_partkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      GROUP BY 1, 2, 3, 4, 5, 6
      ORDER BY region_name, nation_name, mktsegment, brand, order_year, order_quarter
    """),
    // the reference's 18-key calendar mart: fact joined to the GENERATED
    // dim_date (same generator SQL as the dim_date oracle, as a CTE)
    Query("sales_summary_calendar", (s, d) => Marts.salesSummaryCalendar(s, d), s"""
      WITH dim AS (${DimDate.oracleSql("1995-01-01", 2557)})
      SELECT date_key, full_date, year, quarter, month, month_name,
             week_of_year, day_of_month, is_weekend, is_holiday,
             p_brand AS brand, p_type AS part_type, p_size AS part_size,
             r_name AS region_name, n_name AS nation_name,
             c_mktsegment AS mktsegment, o_orderpriority AS priority,
             count(DISTINCT l_orderkey) AS order_count,
             floor((CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS revenue,
             floor((CAST(sum(CAST((l_quantity) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS quantity_sold,
             floor((CAST(sum(CAST((l_extendedprice) AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_unit_price,
             floor((CAST(sum(CAST((l_extendedprice * l_discount) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_discount
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN dim      ON CAST(strftime(o_orderdate, '%Y%m%d') AS INT) = date_key
        JOIN part     ON l_partkey = p_partkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17
      ORDER BY date_key, brand, part_type, part_size, region_name,
               nation_name, mktsegment, priority
    """),
    // oracle is the plain (unbucketed) join — bucketing must not change
    // results, only the shuffle plan
    Query("bucketed_join", (s, d) => Marts.bucketedCustomerJoin(s, d), """
      SELECT o_orderpriority AS priority, c_mktsegment AS mktsegment,
             count(*) AS n_orders,
             floor((CAST(sum(CAST((o_totalprice) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
      ORDER BY priority, mktsegment
    """),
    Query("fact_sales", (s, d) => Marts.factSales(s, d), """
      SELECT l_orderkey AS order_key, l_linenumber AS line_number,
             l_partkey AS part_key, l_suppkey AS supp_key,
             o_custkey AS cust_key,
             CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS order_date_key,
             CAST(strftime(l_shipdate, '%Y%m%d') AS INT) AS ship_date_key,
             l_quantity AS quantity,
             floor((l_extendedprice * (1.0 - l_discount)) * 10000 + 0.5) / 10000 AS net_revenue,
             o_orderstatus AS order_status
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      ORDER BY order_key, line_number
    """),
    Query("dim_customer", (s, d) => Marts.dimCustomer(s, d), """
      SELECT c_custkey AS customer_key, c_name AS customer_name,
             c_mktsegment AS mktsegment, n_name AS nation_name,
             r_name AS region_name, c_acctbal AS acctbal
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      ORDER BY customer_key
    """),
    Query("product_enriched", (s, d) => Marts.productEnriched(s, d), """
      SELECT p_partkey AS part_key, p_brand AS brand, p_type AS part_type,
             n_name AS supplier_nation,
             floor((CAST(sum(CAST((l_quantity) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_qty,
             floor((CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_revenue,
             count(*) AS line_count
      FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY 1, 2, 3, 4
      ORDER BY part_key, supplier_nation
    """),
    Query("latest_ship", (s, d) => Marts.latestShipmentPerPart(s, d), latestShipSql),
    // Spark runs the max_by aggregate form; the oracle's window form
    // states the same latest-per-key semantics
    Query("latest_ship_agg", (s, d) => Marts.latestShipmentPerPartAgg(s, d), latestShipSql),
    Query("latest_month_orders", (s, d) => Marts.latestMonthOrderSummary(s, d), """
      SELECT o_orderpriority AS priority,
             COUNT(*) AS order_count,
             floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_price
      FROM orders
      WHERE date_trunc('month', o_orderdate) =
            (SELECT MAX(date_trunc('month', o_orderdate)) FROM orders)
      GROUP BY o_orderpriority
      ORDER BY priority
    """),
    Query("dim_date", (s, _) => DimDate.generate(s), DimDate.oracleSql()),
    Query("scd2_initial", (s, d) => Scd2Queries.initial(s, d), """
      SELECT row_number() OVER (ORDER BY p_partkey) AS surrogate_key,
             p_partkey AS part_key, p_name, p_brand, p_type, p_size,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             md5(concat_ws('|', p_name, p_brand, p_type,
                 CAST(p_size AS VARCHAR),
                 CAST(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS VARCHAR))) AS attr_hash,
             DATE '2024-01-01' AS effective_date,
             CAST(NULL AS DATE) AS expiry_date,
             TRUE AS is_current
      FROM part
      ORDER BY surrogate_key
    """),
    Query("scd2_upsert", (s, d) => Scd2Queries.upsert(s, d), s"""
      WITH $scd2Changed,
      $scd2Rows
      SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows ORDER BY surrogate_key
    """),
    // same merge pipeline as scd2_upsert, then the point-in-time filter:
    // the version current ON 2024-07-01 (effective ≤ date < expiry)
    Query("scd2_snapshot", (s, d) => Scd2Queries.snapshot(s, d), s"""
      WITH $scd2Changed,
      $scd2Rows,
      merged AS (SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows)
      SELECT * FROM merged
      WHERE effective_date <= DATE '2024-07-01'
        AND (expiry_date IS NULL OR expiry_date > DATE '2024-07-01')
      ORDER BY surrogate_key
    """),
    // same merge pipeline, then each fact line joins the dim version
    // current on its (order-month-parity-derived) as-of date
    Query("fact_dim_asof", (s, d) => Scd2Queries.factDimAsOf(s, d), s"""
      WITH $scd2Changed,
      old_rows AS (
        SELECT d.part_key, d.p_brand, d.price_cents,
               DATE '2024-01-01' AS effective_date,
               CASE WHEN c.part_key IS NOT NULL THEN DATE '2024-06-01'
                    ELSE CAST(NULL AS DATE) END AS expiry_date
        FROM dim0 d LEFT JOIN (SELECT DISTINCT part_key FROM changed) c USING (part_key)),
      new_rows AS (
        SELECT part_key, p_brand, price_cents,
               DATE '2024-06-01' AS effective_date,
               CAST(NULL AS DATE) AS expiry_date
        FROM changed),
      merged AS (SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows),
      fact AS (
        SELECT l.l_partkey AS part_key, CAST(l.l_quantity AS BIGINT) AS qty,
               CASE WHEN month(o.o_orderdate) % 2 = 0 THEN DATE '2024-03-01'
                    ELSE DATE '2024-07-01' END AS as_of
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      SELECT f.as_of, d.p_brand,
             count(*) AS n_lines,
             CAST(sum(d.price_cents * f.qty) AS BIGINT) AS dim_value_cents
      FROM fact f JOIN merged d
        ON f.part_key = d.part_key
       AND d.effective_date <= f.as_of
       AND (d.expiry_date IS NULL OR d.expiry_date > f.as_of)
      GROUP BY 1, 2
      ORDER BY 1, 2
    """),
    Query("xml_shred", (s, d) => XmlShred.shred(s, d), """
      SELECT c_custkey AS customer_key, c_mktsegment AS segment,
             c_nationkey AS nation_key,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer
      ORDER BY customer_key
    """),
    // the Spark side renders XML then from_xml-parses it back with the
    // 13-field typed schema; the oracle computes the same values straight
    // from the source columns — equality proves the typed round-trip
    // (double, dates, ints, missing-element null) is lossless
    Query("xml_shred_full", (s, d) => XmlShred.shredFull(s, d), """
      SELECT c_custkey AS customer_key,
             c_acctbal AS total_purchase_ytd,
             DATE '1995-01-01' + CAST(c_custkey % 1000 AS INT) AS date_first_purchase,
             DATE '1960-01-01' + CAST((c_custkey * 7) % 15000 AS INT) AS birth_date,
             CASE WHEN c_custkey % 2 = 0 THEN 'M' ELSE 'S' END AS marital_status,
             CASE WHEN c_custkey % 3 = 0 THEN '0-25000'
                  WHEN c_custkey % 3 = 1 THEN '25001-50000'
                  ELSE 'greater than 50000' END AS yearly_income,
             CASE WHEN c_custkey % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
             CAST(c_custkey % 6 AS INT) AS total_children,
             CAST(c_custkey % 4 AS INT) AS children_at_home,
             c_mktsegment AS education,
             substr(c_name, 1, 8) AS occupation,
             CAST(c_custkey % 2 AS INT) AS home_owner_flag,
             CAST(c_custkey % 5 AS INT) AS cars_owned,
             CASE WHEN c_custkey % 7 = 0 THEN NULL
                  WHEN c_nationkey % 3 = 0 THEN '0-1 Miles'
                  WHEN c_nationkey % 3 = 1 THEN '5-10 Miles'
                  ELSE '10+ Miles' END AS commute_distance
      FROM customer
      ORDER BY customer_key
    """),
    Query("incremental_extract", (s, d) => Events.incrementalExtract(s, d), """
      SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type,
             floor(value * 10000 + 0.5) / 10000 AS value4
      FROM events
      WHERE ts::TIMESTAMP > TIMESTAMP '2024-01-05 00:00:00'
      ORDER BY event_id
    """),
    Query("json_props", (s, d) => Events.jsonProps(s, d), """
      SELECT event_id, event_type,
             CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
      FROM events
      ORDER BY event_id
    """),
    Query("events_by_type", (s, d) => Events.byType(s, d), """
      SELECT event_type, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             floor(CAST(sum(CAST((floor(value * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_value,
             floor(CAST(sum(CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """),
    Query("events_hourly", (s, d) => Events.hourly(s, d), """
      SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start,
             event_type, count(*) AS n_events,
             floor(CAST(sum(CAST((floor(value * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type
    """),
    // oracle is the UNSALTED join: proves salt+replicate+join is
    // result-identical to the plain equi-join
    Query("events_salted_join", (s, d) => Events.saltedTypeJoin(s, d), """
      WITH dim AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5(event_type), 1, 15))::BIGINT AS type_code
        FROM events)
      SELECT e.event_type, d.type_code, count(*) AS n_events,
             floor(CAST(sum(CAST((floor(value * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_value
      FROM events e JOIN dim d USING (event_type)
      GROUP BY 1, 2
      ORDER BY event_type
    """),
    // sessions via gap-islands, then a plain NON-EQUI overlap self-join:
    // proves the bucketed exactly-once emission loses and duplicates
    // nothing
    Query("session_overlap", (s, d) => Events.sessionOverlapCounts(s, d), s"""
      WITH $sessionIslands,
      sess AS (
        SELECT user_id, epoch_us(min(ts)) AS s_start, epoch_us(max(ts)) AS s_end
        FROM islands GROUP BY user_id, sid)
      SELECT a.user_id AS user_id, count(*) AS n_overlaps,
             count(DISTINCT b.user_id) AS n_peers
      FROM sess a JOIN sess b
        ON a.user_id < b.user_id
       AND a.s_start <= b.s_end AND b.s_start <= a.s_end
      GROUP BY 1
      ORDER BY user_id
    """),
    // null-safe join: IS NOT DISTINCT FROM keeps null-keyed rows that
    // plain = would silently drop; counts must cover every event
    Query("null_safe_join", (s, d) => Events.nullSafeBucketJoin(s, d), """
      WITH e AS (
        SELECT value,
               nullif(CAST(json_extract(props, '$.k') AS INT) % 5, 0) AS bucket
        FROM events),
      dim AS (SELECT bucket, count(*) AS bucket_total FROM e GROUP BY bucket)
      SELECT e.bucket, d.bucket_total, count(*) AS n_events,
             floor(CAST(sum(CAST((floor(value * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_value
      FROM e JOIN dim d ON e.bucket IS NOT DISTINCT FROM d.bucket
      GROUP BY 1, 2
      ORDER BY e.bucket ASC NULLS FIRST
    """),
    // generated SQL: portable-HLL register math replayed one-level (the
    // Spark side merges per-day sketches; equality proves mergeability)
    Query("daily_user_sketch_est", (s, d) => Events.dailyUserSketchEst(s, d), s"""
        WITH h AS (
          SELECT event_type, ${graft.Fns.h64Sql("CAST(user_id AS VARCHAR)")} AS h
          FROM events),
        b AS (SELECT event_type, h % 64 AS bucket, h // 64 AS w FROM h),
        regs AS (
          SELECT event_type, bucket, max(${graft.Fns.hllRankSql("w")}) AS r
          FROM b GROUP BY 1, 2),
        s AS (
          SELECT event_type,
                 sum(${graft.Fns.hllWeightSql("r")}) AS s_present,
                 count(*) AS m_present
          FROM regs GROUP BY 1),
        est AS (
          SELECT event_type,
                 CAST(s_present + (64 - m_present) * ${graft.Fns.HllEmptyWeight} AS BIGINT) AS s_total
          FROM s),
        ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
               FROM events GROUP BY 1)
        SELECT event_type,
               floor((CAST(0.70934 AS DOUBLE) * 4096 * ${graft.Fns.HllEmptyWeight}
                      / CAST(s_total AS DOUBLE)) * 10000 + 0.5) / 10000 AS approx_users,
               exact_users
        FROM est JOIN ex USING (event_type)
        ORDER BY event_type
      """),
    // generated SQL: count-min counter build + min-probe with the same
    // salted h64 hashes the Spark side uses
    Query("cm_heavy_hitters", (s, d) => Events.cmHeavyHitters(s, d), s"""
        WITH rows_ AS (
          SELECT user_id, i,
                 ${graft.Fns.h64Sql("CAST(user_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)")} % 512 AS bucket
          FROM events, unnest([1, 2, 3]) AS t(i)),
        counters AS (SELECT i, bucket, count(*) AS cnt FROM rows_ GROUP BY 1, 2),
        keyb AS (SELECT DISTINCT user_id, i, bucket FROM rows_),
        est AS (SELECT k.user_id, min(c.cnt) AS est_count
                FROM keyb k JOIN counters c ON k.i = c.i AND k.bucket = c.bucket
                GROUP BY 1)
        SELECT user_id, CAST(est_count AS BIGINT) AS est_count
        FROM est ORDER BY est_count DESC, user_id LIMIT 20
      """),
    // the BUILT-IN session_window (shared batch/streaming definition)
    // under the oracle: DuckDB derives sessions independently via
    // gap-islands, splitting where the inter-event gap >= 30 minutes
    // gap-islands replay of the built-in session_window: a new session
    // opens where the inter-event gap >= 30 minutes (session windows are
    // half-open [first, last+gap))
    Query("session_window_agg", (s, d) => {
      import org.apache.spark.sql.functions.col
      graft.streaming.EventStream.sessionWindows(Tables.events(s, d))
        .orderBy(col("user_id"), col("first_ts"))
    }, s"""
      WITH $sessionIslands
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
             count(*) AS n_events
      FROM islands
      GROUP BY user_id, sid
      ORDER BY user_id, first_ts
    """),
    Query("dedup_exact", (s, d) => Dedup.exact(s, d), """
      SELECT md5(text) AS text_hash, min(doc_id) AS kept_doc_id, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY kept_doc_id
    """),
    Query("dedup_minhash", (s, d) => Dedup.minhashPairs(s, d), minhashPairsSql(None)),
    // Incremental admission: batch = doc_id % 10 = 0, corpus = the rest.
    // The oracle states the semantics DOC-level (band join over all
    // cross-side doc pairs, then a per-batch-doc rank); Spark's batch-set
    // contraction and argmax-absorbed band duplicates are invisible to it
    Query("dedup_incremental", (s, d) => Dedup.dedupIncremental(s, d), s"""
      WITH ${minhashTokens("doc_id")},
      sig AS (
        SELECT doc_id,
               ${minhashSig(16, "h")}
        FROM th),
      $minhashBands,
      hsets AS (SELECT doc_id, list_distinct(h) AS hs FROM th),
      cand AS (
        SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS cdoc
        FROM bands nb JOIN bands cb
          ON nb.band = cb.band AND nb.k1 = cb.k1 AND nb.k2 = cb.k2
         AND nb.k3 = cb.k3 AND nb.k4 = cb.k4
        WHERE nb.doc_id % 10 = 0 AND cb.doc_id % 10 <> 0),
      pairs AS (${jaccardInter("new_id", "cdoc", "hsets", "doc_id")}),
      best AS (
        SELECT new_id, cdoc,
               floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS j,
               row_number() OVER (PARTITION BY new_id
                 ORDER BY floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 DESC,
                          cdoc ASC) AS rn
        FROM pairs
        WHERE inter / (na + nb - inter) >= 0.9)
      SELECT d.doc_id,
             b.cdoc IS NOT NULL AS is_dup,
             b.cdoc AS match_id,
             b.j AS jaccard
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.new_id
      ORDER BY d.doc_id
    """),
    // the 100 TB hot-bucket guard under the oracle: identical pipeline,
    // but band buckets holding > 10 docs are dropped BEFORE the
    // self-join (candidate generation only — verification stays exact).
    // The oracle replays the same window-count cut, proving the cut
    // semantics — not just the uncapped path — match an independent
    // engine.
    Query("dedup_minhash_capped", (s, d) => Dedup.minhashPairs(s, d, maxBucketSize = Some(10)),
      minhashPairsSql(Some(10))),
    Query("dedup_simhash", (s, d) => Dedup.simhash(s, d), s"""
      WITH $tokenHalves
      $simhashSelect ORDER BY doc_id
    """),
    Query("dedup_ngram", (s, d) => Dedup.ngramJaccardPairs(s, d), s"""
      WITH ${shingleSets(false)},
      $sharedShingles
      SELECT doc_a, doc_b,
             floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS jaccard
      FROM shared
      WHERE inter / (na + nb - inter) >= 0.5
      ORDER BY doc_a, doc_b
    """),
    // directed shingle containment — the same inverted-index join as
    // dedup_ngram (no size-ratio cut: containment pairs are
    // size-asymmetric by definition), both directions from one count
    Query("dedup_containment", (s, d) => Dedup.containmentPairs(s, d), s"""
      WITH ${shingleSets(false)},
      $sharedShingles,
      dirs AS (
        SELECT doc_a AS doc_id, doc_b AS container_id, inter / na AS c_raw FROM shared
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS container_id, inter / nb AS c_raw FROM shared)
      SELECT doc_id, container_id,
             floor(c_raw * 10000 + 0.5) / 10000 AS containment
      FROM dirs
      WHERE c_raw >= 0.8
      ORDER BY doc_id, container_id
    """),
    // incremental containment admission (batch = doc_id % 10 = 0 vs the
    // stored corpus): the prefix filter and the in-join size cut are
    // both lossless on the sliced pair space, so the oracle states the
    // plain inverted-index semantics directly — shared shingles between
    // a batch doc and a corpus doc over the containee's size
    Query("dedup_containment_incr", (s, d) => Dedup.containmentIncremental(s, d), s"""
      WITH ${shingleSets(false)},
      shn AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
      binv AS (SELECT doc_id, n_sh, unnest(s) AS sh FROM shn WHERE doc_id % 10 = 0),
      cinv AS (SELECT doc_id AS container_id, n_sh AS nb, unnest(s) AS sh
               FROM shn WHERE doc_id % 10 <> 0),
      shared AS (
        SELECT b.doc_id, c.container_id, b.n_sh AS na, count(*) AS inter
        FROM binv b JOIN cinv c ON b.sh = c.sh
        GROUP BY 1, 2, 3)
      SELECT doc_id, container_id,
             floor((inter / na) * 10000 + 0.5) / 10000 AS containment
      FROM shared
      WHERE inter / na >= 0.8
      ORDER BY doc_id, container_id
    """),
    // capped containment replays the Spark plan's candidate semantics
    // EXACTLY: prefix filter (containee indexes its first
    // n − ⌊τ·n⌋ + 1 ASCENDING-sorted shingle hashes) composed with the
    // hot-shingle cut (document frequency from the FULL index > 5 drops
    // the posting) and the in-join nb ≥ τ·na direction cut; survivors
    // verify on FULL sets so containment values stay exact. Unlike the
    // uncapped oracle, prefix must be replayed here — it is lossless
    // alone, but under the cut a pair survives iff the containee's
    // PREFIX holds a COLD shingle of the container.
    Query("dedup_containment_capped", (s, d) =>
      Dedup.containmentPairs(s, d, maxShingleFreq = Some(5)), s"""
      WITH ${shingleSets(true)},
      shn AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
      fullidx AS (SELECT doc_id, n_sh, unnest(s) AS sh FROM shn),
      freq AS (SELECT sh, count(*) AS f FROM fullidx GROUP BY 1),
      pre AS (
        SELECT doc_id, n_sh,
               unnest(s[1 : n_sh - CAST(floor(0.8 * n_sh) AS INT) + 1]) AS sh
        FROM shn),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS container_id
        FROM pre a
          JOIN freq fq ON a.sh = fq.sh AND fq.f <= 5
          JOIN fullidx b ON a.sh = b.sh AND a.doc_id <> b.doc_id
            AND b.n_sh >= 0.8 * a.n_sh)
      SELECT c.doc_id, c.container_id,
             floor((len(list_intersect(sa.s, sb.s)) / sa.n_sh) * 10000 + 0.5) / 10000
               AS containment
      FROM cand c
        JOIN shn sa ON c.doc_id = sa.doc_id
        JOIN shn sb ON c.container_id = sb.doc_id
      WHERE len(list_intersect(sa.s, sb.s)) / sa.n_sh >= 0.8
      ORDER BY c.doc_id, c.container_id
    """),
    // stop-shingle cut under the oracle: shingles indexing > 5 docs are
    // dropped from the INDEX (candidate generation) only; surviving
    // pairs re-verify on their FULL shingle sets, so reported jaccard
    // values stay exact — the oracle replays the same frequency cut
    Query("dedup_ngram_capped", (s, d) => Dedup.ngramJaccardPairs(s, d, maxShingleFreq = Some(5)), s"""
      WITH ${shingleSets(false)},
      inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS sh FROM sh),
      cut AS (
        SELECT doc_id, n_sh, sh
        FROM (SELECT *, count(*) OVER (PARTITION BY sh) AS f FROM inv)
        WHERE f <= 5),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cut a JOIN cut b ON a.sh = b.sh AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT doc_a, doc_b,
               len(list_intersect(sa.s, sb.s)) AS inter,
               len(sa.s) AS na, len(sb.s) AS nb
        FROM cand
          JOIN sh sa ON cand.doc_a = sa.doc_id
          JOIN sh sb ON cand.doc_b = sb.doc_id)
      SELECT doc_a, doc_b,
             floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS jaccard
      FROM pairs
      WHERE inter / (na + nb - inter) >= 0.5
      ORDER BY doc_a, doc_b
    """),
    // Spark generates candidates by pigeonhole banding (8×8-bit bands,
    // lossless for Hamming ≤ 7); the oracle states the semantics as a
    // plain Hamming-distance join over the same fingerprints
    Query("dedup_simhash_pairs", (s, d) => Dedup.simhashPairs(s, d), simhashPairsSql),
    Query("dedup_clusters", (s, d) => Dedup.nearDupClusters(s, d), dedupClustersSql),
    // Spark resolves components by iterative hash-to-min propagation;
    // the oracle states the semantics as recursive reachability over the
    // same 64-bit-simhash Hamming-3 edge set
    // full connected components over the MinHash jaccard>=0.9 edge set —
    // the Spark side maintains labels batch-by-batch (ClusterMaintain)
    // and the oracle states the equivalence theorem: incremental
    // maintenance == one CC run over the complete pair graph
    Query("dedup_streaming", (s, d) => graft.streaming.ClusterMaintain.streamingClusters(s, d), s"""
      WITH RECURSIVE ${minhashTokens("doc_id")},
      sig AS (
        SELECT doc_id,
               ${minhashSig(16, "h")}
        FROM th),
      $minhashBands,
      ${bandCand("bands")},
      hsets AS (SELECT doc_id, list_distinct(h) AS hs FROM th),
      pairs AS (
        SELECT doc_a, doc_b
        FROM cand
          JOIN hsets ta ON cand.doc_a = ta.doc_id
          JOIN hsets tb ON cand.doc_b = tb.doc_id
        WHERE len(list_intersect(ta.hs, tb.hs))
              / (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) >= 0.9),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(src, node) AS (
        SELECT doc_id, doc_id FROM th
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY 1),
      sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
      SELECT c.doc_id, c.cluster_id, s.cluster_size
      FROM comp c JOIN sizes s USING (cluster_id)
      ORDER BY c.doc_id
    """),
    Query("dedup_embedding", (s, d) => Dedup.embeddingPairs(s, d), s"""
      WITH ${bucketedCorpus("INT")},
      c AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                           (x, y) -> x + y) / sqrt(a.norm2 * b.norm2) AS cos_raw
        FROM p a JOIN p b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, floor(cos_raw * 10000 + 0.5) / 10000 AS cosine
      FROM c WHERE cos_raw >= 0.2
      ORDER BY id_a, id_b
    """),
    // Spark probes Hamming-1 neighbor buckets; the oracle states the
    // SEMANTICS directly (pairs whose sign-vectors differ in ≤1 plane)
    Query("dedup_embedding_multiprobe", (s, d) => Dedup.embeddingPairsMultiProbe(s, d), s"""
      WITH ${bucketedCorpus("BIGINT")},
      c AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                           (x, y) -> x + y) / sqrt(a.norm2 * b.norm2) AS cos_raw
        FROM p a JOIN p b ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, floor(cos_raw * 10000 + 0.5) / 10000 AS cosine
      FROM c WHERE cos_raw >= 0.2
      ORDER BY id_a, id_b
    """),
    Query("knn_bruteforce", (s, d) => Similarity.knnBruteForce(s, d), knnBruteForceSql),
    // IVF with a learned coarse quantizer (ivfFit)
    Query("knn_ivf", (s, d) => Similarity.knnIvf(s, d), knnIvfSql),
    Query("knn_ivf_served", (s, d) => Similarity.knnIvfServed(s, d), knnIvfSql),
    // generated SQL: SemDeDup over knn_ivf's fit (identical fit ⟹
    // identical clusters), then the within-cluster pair scoring and the
    // farther-from-centroid drop rule
    Query("semantic_dedup", (s, d) => Similarity.semanticDedup(s, d), semanticDedupSql(None)),
    // the capped variant sub-buckets clusters larger than 25 — at sf0.01
    // the ~50-member clusters split 2-3 ways, so the capped path is
    // genuinely exercised, not a no-op
    Query("semantic_dedup_capped", (s, d) =>
      Similarity.semanticDedup(s, d, maxClusterSize = Some(25)), semanticDedupSql(Some(25))),
    // generated SQL: per-subspace PQ training/encoding/ADC/re-rank
    // unrolled — see Similarity.pqOracleSql
    Query("knn_pq", (s, d) => Similarity.knnPq(s, d), Similarity.pqOracleSql()),
    // generated SQL: the IVF-PQ composite — knn_ivf's prepared corpus +
    // converged coarse centroids, then the Similarity-generated list
    // assignment, shared per-subspace PQ chain, probe routing,
    // probed-list ADC and exact re-rank (Similarity.ivfpqServeSql); the
    // persisted-index round trip is bit-identical (doubles and int codes
    // round-trip parquet exactly), so one oracle covers both variants
    Query("knn_ivfpq", (s, d) => Similarity.knnIvfPq(s, d), ivfpqSql),
    // generated SQL: the greedy MMR loop unrolled k rounds
    // (Similarity.mmrOracleSql) — decimal-mean relevance, max-sim to
    // the accumulating selected set, LIMIT 1 argmax per round
    Query("mmr_select", (s, d) => Similarity.mmrSelect(s, d), Similarity.mmrOracleSql()),
    Query("knn_ivfpq_served", (s, d) => Similarity.knnIvfPqServed(s, d), ivfpqSql),
    // generated SQL: incremental ANN index maintenance — knn_ivf's fit
    // over the 75% base slice, then both slices assigned against the
    // converged base centroids and the per-list drift report
    // (decimal-accumulated money means — the m-step discipline)
    // replayed exactly
    Query("ann_index_maintain", (s, d) => Similarity.annIndexMaintain(s, d),
      ivfBasePrefix + s"""fasg AS (
        SELECT pb.vec_id, c.cid, ${Similarity.centroidCosSql("pb")} AS cos
        FROM pb CROSS JOIN centn c
        QUALIFY row_number() OVER (PARTITION BY pb.vec_id ORDER BY cos DESC, c.cid) = 1),
      basg AS (
        SELECT px.vec_id, c.cid, ${Similarity.centroidCosSql("px")} AS cos
        FROM (SELECT vec_id, v, norm2 FROM p WHERE vec_id % 4 = 3) px CROSS JOIN centn c
        QUALIFY row_number() OVER (PARTITION BY px.vec_id ORDER BY cos DESC, c.cid) = 1),
      fs AS (
        SELECT cid, count(*) AS n_fit,
               floor((CAST(sum(CAST(cos AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS fit_mean_cos
        FROM fasg GROUP BY 1),
      bs AS (
        SELECT cid, count(*) AS n_batch,
               floor((CAST(sum(CAST(cos AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS batch_mean_cos
        FROM basg GROUP BY 1)
      SELECT fs.cid, fs.n_fit, fs.fit_mean_cos,
             coalesce(bs.n_batch, 0) AS n_batch, bs.batch_mean_cos,
             floor((fs.fit_mean_cos - coalesce(bs.batch_mean_cos, fs.fit_mean_cos)) * 10000 + 0.5) / 10000 AS drift,
             coalesce(bs.batch_mean_cos, fs.fit_mean_cos) + 0.05 < fs.fit_mean_cos AS retrain
      FROM fs LEFT JOIN bs USING (cid)
      ORDER BY fs.cid
    """),
    // generated SQL: the compacted maintained index — base-slice fits
    // (coarse via ivfBasePrefix, PQ via fitSrc=pb), encode + serve over
    // the FULL corpus; post-compaction serving is spec-pinned identical
    // to serving with the delta in place, so this one inline replay
    // covers the whole compaction path
    Query("ann_compacted_serve", (s, d) => Similarity.annCompactedServe(s, d),
      ivfBasePrefix + Similarity.ivfpqServeSql(fitSrc = Some("pb"))),
    // generated SQL: the streamed drift loop — base-slice fits, both
    // epochs' ingests (epoch 1 negated), the drift trigger, the
    // dynamic-k refit Lloyd over the drifted lists' members, member
    // reassignment, and the serve against the merged centroid store
    // (Similarity.streamedRefitOracleSql) — one inline replay of the
    // ivfPqSink+refitCorpus composite
    Query("ann_streamed_refit", (s, d) => Similarity.annStreamedRefit(s, d),
      ivfBasePrefix + Similarity.streamedRefitOracleSql()),
    // hard-negative mining: the label-DISequality dual of knn_filtered
    Query("hard_negatives", (s, d) => Similarity.hardNegatives(s, d), s"""
      WITH p AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               $embeddingNorm2
        FROM embeddings),
      q AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS va, norm2 AS na2
            FROM p WHERE vec_id % 100 = 0),
      s AS (
        SELECT q.anchor_id, p.vec_id AS negative_id, q.anchor_label,
               p.label AS negative_label,
               floor((list_reduce(list_transform(range(1, len(q.va) + 1), i -> q.va[i] * p.v[i]),
                 (x, y) -> x + y) / sqrt(q.na2 * p.norm2)) * 10000 + 0.5) / 10000 AS cosine
        FROM q JOIN p ON p.label <> q.anchor_label)
      SELECT anchor_id,
             CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS INT) AS rank,
             negative_id, anchor_label, negative_label, cosine
      FROM s
      QUALIFY rank <= 3
      ORDER BY anchor_id, rank
    """),
    Query("lang_id", (s, d) => TextAnalysis.langId(s, d), langIdSql),
    Query("text_quality", (s, d) => TextAnalysis.quality(s, d), textQualitySql),
    // Gopher-style rules: ratios money-rounded for display, the boolean
    // gate compares RAW int/int divisions (IEEE-identical cross-engine)
    Query("gopher_quality", (s, d) => TextAnalysis.gopherQuality(s, d), """
      WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
      m AS (
        SELECT doc_id, n_chars,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
               CAST(CASE WHEN len(toks) < 3 THEN 0 ELSE len(toks) - 2 END AS INT) AS n3,
               CAST(len(list_distinct(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
                    ELSE list_transform(range(1, len(toks) - 1), i ->
                      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)) AS INT) AS d3
        FROM t),
      top AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c FROM (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2) GROUP BY 1)
      SELECT m.doc_id, m.n_tokens,
             floor(((n_chars - (n_tokens - 1)) / n_tokens) * 10000 + 0.5) / 10000 AS mean_token_len,
             floor((n_distinct / n_tokens) * 10000 + 0.5) / 10000 AS distinct_ratio,
             floor((CASE WHEN n3 > 0 THEN 1.0 - d3 / n3 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS dup3_ratio,
             floor((top_c / n_tokens) * 10000 + 0.5) / 10000 AS top_token_ratio,
             (n_tokens >= 20 AND (n_chars - (n_tokens - 1)) / n_tokens >= 3.0
               AND (n_chars - (n_tokens - 1)) / n_tokens <= 10.0
               AND n_distinct / n_tokens >= 0.45) AS passes
      FROM m JOIN top USING (doc_id)
      ORDER BY doc_id
    """),
    // count-weighted repetition coverage: modal-bigram tie breaks
    // lexicographically; coverage = gram count × gram length over
    // n_tokens, overlap-blind, capped at 1
    Query("repetition_signals", (s, d) => TextAnalysis.repetitionSignals(s, d), """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      base AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, toks FROM t),
      bgc AS (
        SELECT doc_id, g, count(*) AS cnt FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(toks)), i ->
            toks[i] || ' ' || toks[i+1])) AS g
          FROM base) GROUP BY 1, 2),
      topbg AS (
        SELECT doc_id, g AS top_bigram, CAST(cnt AS BIGINT) AS top_bigram_n
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
              FROM bgc)
        WHERE rn = 1),
      tgc AS (
        SELECT doc_id, g, count(*) AS cnt FROM (
          SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
            ELSE list_transform(range(1, len(toks) - 1), i ->
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS g
          FROM base) GROUP BY 1, 2),
      dupt AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN cnt >= 2 THEN cnt * 3 ELSE 0 END) AS BIGINT) AS dup_tok
        FROM tgc GROUP BY 1)
      SELECT b.doc_id, b.n_tokens, tb.top_bigram, tb.top_bigram_n,
             floor(least(CAST(1.0 AS DOUBLE),
               (tb.top_bigram_n * 2) / CAST(b.n_tokens AS DOUBLE)) * 10000 + 0.5) / 10000
               AS top_bigram_frac,
             floor(least(CAST(1.0 AS DOUBLE),
               coalesce(dp.dup_tok, 0) / CAST(b.n_tokens AS DOUBLE)) * 10000 + 0.5) / 10000
               AS dup_trigram_frac
      FROM base b JOIN topbg tb USING (doc_id) LEFT JOIN dupt dp USING (doc_id)
      ORDER BY b.doc_id
    """),
    // add-one bigram LM self-perplexity: per-term money rounding before
    // the decimal-accumulated sum, pow(2, ·) on already-rounded bits
    Query("lm_perplexity", (s, d) => TextAnalysis.lmPerplexity(s, d), lmPerplexitySql),
    // generated SQL: the CCNet tercile gate extends lm_perplexity's
    // bigram-LM chain; ntile(3) is a rank cut, identical in both engines
    Query("perplexity_gate", (s, d) => TextAnalysis.perplexityGate(s, d), lmChainSql + """
      , scored AS (
        SELECT d.doc_id, x.lang, d.bits_per_token,
               ntile(3) OVER (PARTITION BY x.lang
                              ORDER BY d.bits_per_token, d.doc_id) AS tercile
        FROM doc d JOIN documents x USING (doc_id))
      SELECT doc_id, lang, bits_per_token,
             CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
             tercile <= 2 AS keep
      FROM scored ORDER BY doc_id
    """),
    // DSIR importance weights: per-bucket log-ratio money-rounded first,
    // per-doc terms money-rounded, decimal-accumulated; ntile(4) is a
    // rank cut (identical in both engines)
    Query("dsir_weights", (s, d) => TextAnalysis.dsirWeights(s, d), """
      WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      fb AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b
        FROM (
          SELECT doc_id, lang, unnest(list_concat(toks,
            list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS f
          FROM t)),
      perdoc AS (SELECT doc_id, b, count(*) AS c FROM fb GROUP BY 1, 2),
      corpus AS (
        SELECT b, count(*) AS cq,
               count(*) FILTER (WHERE lang = 'en') AS ct
        FROM fb GROUP BY 1),
      tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS q,
               CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE) AS t
        FROM fb),
      r AS (
        SELECT c.b,
               floor(log2(((CAST(c.ct + 1 AS DOUBLE)) / (tot.t + 4096.0))
                          / ((CAST(c.cq + 1 AS DOUBLE)) / (tot.q + 4096.0))) * 10000 + 0.5)
                 / 10000 AS rb
        FROM corpus c CROSS JOIN tot),
      w AS (
        SELECT p.doc_id, p.c,
               floor((p.c * r.rb) * 10000 + 0.5) / 10000 AS wv
        FROM perdoc p JOIN r USING (b)),
      doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
               floor(CAST(sum(CAST(wv AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS log_w
        FROM w GROUP BY 1),
      sel AS (
        SELECT d.doc_id, x.lang, d.n_feats, d.log_w,
               ntile(4) OVER (ORDER BY d.log_w DESC, d.doc_id) AS q4
        FROM doc d JOIN documents x USING (doc_id))
      SELECT doc_id, lang, n_feats, log_w, q4 = 1 AS selected
      FROM sel ORDER BY doc_id
    """),
    // inverted-index decontamination: shared 3-gram hashes vs the
    // doc_id % 97 = 0 benchmark stand-in
    Query("decontaminate", (s, d) => TextAnalysis.decontaminate(s, d), s"""
      WITH $benchShingles
      SELECT s.doc_id, count(DISTINCT s.g) AS n_shared
      FROM sh s JOIN bench b USING (g)
      WHERE s.doc_id % 97 <> 0
      GROUP BY 1 ORDER BY 1
    """),
    // language-balancing stratified sample: identical left-to-right
    // float threshold arithmetic on both engines
    Query("stratified_sample", (s, d) => TextAnalysis.stratifiedSample(s, d), """
      WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      m AS (SELECT min(n_docs) AS mn FROM c),
      k AS (
        SELECT d.lang,
               CASE WHEN (('0x' || substr(md5(d.text), 1, 15))::BIGINT) % 10000 <
                         CAST(m.mn AS DOUBLE) / c.n_docs * 10000
                    THEN 1 ELSE 0 END AS keep
        FROM documents d JOIN c USING (lang) CROSS JOIN m)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(keep) AS BIGINT) AS n_kept,
             floor((CAST(sum(keep) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS kept_ratio
      FROM k GROUP BY 1 ORDER BY 1
    """),
    // GPT-style packing: cut the doc_id-ordered token stream every 2048
    // estimated tokens; the oracle's window states what the engine's
    // two-pass distributed scan computes
    Query("sequence_packing", (s, d) => TextAnalysis.sequencePacking(s, d), """
      WITH d AS (SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens FROM documents),
      s AS (
        SELECT doc_id, est_tokens,
               COALESCE(CAST(SUM(est_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
        FROM d)
      SELECT CAST(floor(off / 2048) AS BIGINT) AS bin_id,
             count(*) AS n_docs,
             CAST(sum(est_tokens) AS BIGINT) AS bin_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM s GROUP BY 1 ORDER BY 1
    """),
    Query("token_counts", (s, d) => TextAnalysis.tokenCounts(s, d), """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens,
             CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
      FROM documents ORDER BY doc_id
    """),
    Query("doc_fingerprints", (s, d) => TextAnalysis.fingerprints(s, d), s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      h AS (
        SELECT doc_id,
               $shingleHashList AS hs
        FROM t),
      f AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(hs) = 0 THEN []::BIGINT[]
                 WHEN len(hs) < 4 THEN [list_min(hs)]
                 ELSE list_transform(range(1, len(hs) - 2), j -> list_min(hs[j : j+3]))
                 END) AS fps
        FROM h)
      SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
             list_min(fps) AS min_fp, list_max(fps) AS max_fp,
             CAST(list_sum(list_transform(fps, x -> x % 1000000007)) AS BIGINT) AS fp_checksum
      FROM f ORDER BY doc_id
    """),
    Query("media_meta", (s, d) => Multimodal.mediaMeta(s, d), """
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             CAST(64 + (('0x' || substr(md5(text), 1, 15))::BIGINT % 512) AS INT) AS width,
             CAST(64 + ((('0x' || substr(md5(text), 1, 15))::BIGINT >> 9) % 512) AS INT) AS height,
             CAST(1 + strlen(text) % 24 AS INT) AS n_frames
      FROM documents ORDER BY doc_id
    """),
    Query("sales_rollup", (s, d) => Extras.salesRollup(s, d), """
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             floor(CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_revenue,
             count(*) AS line_count
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region_name, nation_name
    """),
    Query("customer_year_sets", (s, d) => Extras.customerYearSets(s, d), """
      WITH y1 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      y2 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998),
      u AS (
        SELECT 'both_97_98' AS set_op, count(*) AS n_customers
        FROM (SELECT o_custkey FROM y1 INTERSECT SELECT o_custkey FROM y2)
        UNION ALL
        SELECT 'only_97', count(*)
        FROM (SELECT o_custkey FROM y1 EXCEPT SELECT o_custkey FROM y2)
        UNION ALL
        SELECT 'either', count(*)
        FROM (SELECT DISTINCT o_custkey
              FROM (SELECT o_custkey FROM y1 UNION SELECT o_custkey FROM y2)))
      SELECT set_op, n_customers FROM u ORDER BY set_op
    """),
    Query("embedding_norm_quant", (s, d) => Extras.embeddingNormQuant(s, d), """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (
        SELECT vec_id, v,
               sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                    (x, y) -> x + y)) AS norm,
               greatest(list_reduce(list_transform(v, x -> abs(x)), (x, y) -> greatest(x, y)),
                        1e-30) AS maxabs
        FROM e),
      q AS (
        SELECT vec_id, v, norm,
               list_transform(v, x -> CAST(floor(x / maxabs * 127 + 0.5) AS INT)) AS q8
        FROM n)
      SELECT vec_id,
             floor(norm * 10000 + 0.5) / 10000 AS l2_norm,
             floor((list_reduce(list_transform(v, x -> x / greatest(norm, 1e-30)),
                    (x, y) -> x + y)) * 10000 + 0.5) / 10000 AS unit_sum,
             CAST(list_sum(q8) AS INT) AS q8_sum,
             greatest(0, list_max(q8)) AS q8_max
      FROM q ORDER BY vec_id
    """),
    Query("events_asof_signup", (s, d) => Extras.eventsAsOfSignup(s, d), """
      SELECT e.event_id, e.user_id, e.ts::TIMESTAMP AS ts,
             s.signup_event_id AS last_signup_event_id
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts, event_id AS signup_event_id
         FROM events WHERE event_type = 'signup') s
        ON e.user_id = s.user_id AND e.ts >= s.ts
      ORDER BY e.event_id
    """),
    Query("events_pivot", (s, d) => Extras.eventsPivot(s, d), """
      SELECT CAST(user_id % 10 AS INT) AS user_bucket,
             count(*) FILTER (event_type = 'view') AS view,
             count(*) FILTER (event_type = 'click') AS click,
             count(*) FILTER (event_type = 'signup') AS signup,
             count(*) FILTER (event_type = 'purchase') AS purchase,
             count(*) FILTER (event_type = 'error') AS error
      FROM events GROUP BY 1 ORDER BY 1
    """),
    Query("order_value_percentiles", (s, d) => Extras.orderValuePercentiles(s, d), """
      SELECT o_orderpriority AS priority,
             floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
             floor(quantile_cont(o_totalprice, 0.9) * 10000 + 0.5) / 10000 AS p90,
             floor(min(o_totalprice) * 10000 + 0.5) / 10000 AS min_price,
             floor(max(o_totalprice) * 10000 + 0.5) / 10000 AS max_price
      FROM orders GROUP BY 1 ORDER BY 1
    """),
    Query("sessionize", (s, d) => EventSequences.sessionize(s, d), """
      WITH g AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
               lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      f AS (
        SELECT *, CASE WHEN prev_ts IS NULL OR
               CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
               THEN 1 ELSE 0 END AS new_session
        FROM g),
      s AS (
        SELECT *, CAST(sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM f)
      SELECT user_id, session_idx,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events,
             floor(CAST(sum(CAST((floor(value * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS session_value
      FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx
    """),
    Query("running_daily_revenue", (s, d) => EventSequences.runningDailyRevenue(s, d), """
      WITH daily AS (
        SELECT o_orderpriority AS priority, o_orderdate::DATE AS order_date,
               floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS day_revenue
        FROM orders GROUP BY 1, 2)
      SELECT priority, order_date, day_revenue,
             floor(sum(day_revenue) OVER (
               PARTITION BY priority ORDER BY order_date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000 + 0.5) / 10000
               AS running_revenue
      FROM daily ORDER BY priority, order_date
    """),
    Query("vocab_top_terms", (s, d) => TextAnalysis.vocabTopTerms(s, d), """
      SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
      ORDER BY df DESC, tf DESC, term
      LIMIT 50
    """),
    Query("tfidf_checksum", (s, d) => TextAnalysis.tfidfChecksum(s, d), """
      WITH tfm AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY 1, 2),
      dfm AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfm GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      w AS (
        SELECT doc_id,
               floor((tf * ln((SELECT n FROM n) / df)) * 10000 + 0.5) / 10000 AS w
        FROM tfm JOIN dfm USING (term))
      SELECT doc_id,
             floor(CAST(sum(CAST(w AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS tfidf_sum,
             count(*) AS n_terms,
             floor(max(w) * 10000 + 0.5) / 10000 AS max_w
      FROM w GROUP BY doc_id ORDER BY doc_id
    """),
    Query("train_test_split", (s, d) => TextAnalysis.trainTestSplit(s, d), """
      SELECT CASE WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 10 = 0
                  THEN 'test' ELSE 'train' END AS split,
             lang, count(*) AS n_docs,
             floor(CAST(sum(CAST(n_chars AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS total_chars
      FROM documents GROUP BY 1, 2 ORDER BY split, lang
    """),
    // composite pipeline: exact-dedup → quality gate → hash split →
    // corpus summary, replayed stage-for-stage in SQL
    Query("training_corpus", (s, d) => TextAnalysis.trainingCorpus(s, d), s"""
      WITH kept AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      d AS (
        SELECT doc.* FROM documents doc JOIN kept USING (doc_id)),
      q AS (
        SELECT doc_id, lang, n_chars, text,
               $qualityScore
        FROM (
          ${qualityFeatures("doc_id, lang, n_chars, text", "d")})),
      f AS (SELECT * FROM q WHERE quality_score >= 0.5),
      s AS (SELECT *, CASE WHEN (('0x' || substr(md5(text), 1, 15))::BIGINT) % 10 = 0
                           THEN 'test' ELSE 'train' END AS split FROM f)
      SELECT split, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             floor((CAST(sum(CAST(quality_score AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_quality
      FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """),
    Query("sales_grouping_sets", (s, d) => Extras.salesGroupingSets(s, d), """
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
    """),
    Query("top_orders_per_priority", (s, d) => Extras.topOrdersPerPriority(s, d), """
      SELECT o_orderpriority AS priority,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank,
             o_orderkey AS order_key,
             floor(o_totalprice * 10000 + 0.5) / 10000 AS total_price
      FROM orders
      QUALIFY rank <= 3
      ORDER BY priority, rank
    """),
    Query("customer_order_presence", (s, d) => Extras.customerOrderPresence(s, d), """
      SELECT 'active' AS cohort, c_mktsegment AS mktsegment, count(*) AS n
      FROM customer WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND year(o_orderdate) >= 2000)
      GROUP BY 2
      UNION ALL
      SELECT 'inactive', c_mktsegment, count(*)
      FROM customer WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND year(o_orderdate) >= 2000)
      GROUP BY 2
      ORDER BY cohort, mktsegment
    """),
    // A6 ordinal GROUP BY — DuckDB resolves positional refs identically
    Query("orders_priority_ordinal", (s, d) => Extras.ordersPriorityOrdinal(s, d), """
      SELECT o_orderpriority AS priority,
             CAST(year(o_orderdate) AS INT) AS order_year,
             count(*) AS n_orders,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
      FROM orders
      GROUP BY 1, 2
      ORDER BY 1, 2
    """),
    Query("order_value_histogram", (s, d) => Extras.orderValueHistogram(s, d), """
      WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
      SELECT CAST(CASE WHEN mx = mn THEN 0
                       ELSE least(floor((o_totalprice - mn) / (mx - mn) * 20), 19) END AS BIGINT) AS bucket,
             count(*) AS n_orders,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS bucket_value
      FROM orders CROSS JOIN mm
      GROUP BY 1 ORDER BY 1
    """),
    // equi-depth deciles: quantile_cont boundaries (money-rounded), each
    // row counts boundaries strictly below it — no global sort
    Query("order_value_histogram_eqdepth", (s, d) => Extras.orderValueHistogramEqDepth(s, d), """
      WITH bs AS (
        SELECT list_transform(
                 quantile_cont(o_totalprice,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                 b -> floor(b * 10000 + 0.5) / 10000) AS bs
        FROM orders)
      SELECT CAST(list_sum(list_transform(bs, b ->
               CASE WHEN o_totalprice > b THEN 1 ELSE 0 END)) AS INT) AS bucket,
             count(*) AS n_orders,
             floor(min(o_totalprice) * 10000 + 0.5) / 10000 AS lo,
             floor(max(o_totalprice) * 10000 + 0.5) / 10000 AS hi
      FROM orders, bs
      GROUP BY 1
      ORDER BY bucket
    """),
    // corr/stddev from DECIMAL power sums: the built-in double aggregates
    // are partition-merge-order dependent and can never hash-match
    Query("lineitem_stats", (s, d) => Extras.lineitemStats(s, d), """
      WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sy,
               CAST(sum(CAST((floor((l_quantity * l_extendedprice) * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
               CAST(sum(CAST((floor((l_quantity * l_quantity) * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
               CAST(sum(CAST((floor((l_extendedprice * l_extendedprice) * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag,
             CAST(n AS BIGINT) AS n_lines,
             floor(((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 10000 + 0.5) / 10000 AS corr_qty_price,
             floor((sqrt((n * sxx - sx * sx) / (n * (n - 1)))) * 10000 + 0.5) / 10000 AS stddev_qty
      FROM s ORDER BY l_returnflag
    """),
    // the Spark side loads + RE-loads before aggregating; matching the
    // single-copy oracle proves replace-partition idempotency end-to-end
    Query("idempotent_reload", (s, d) => Extras.idempotentReload(s, d), monthlyOrdersSql),
    // same single-copy aggregate: the manifest-committed retry must
    // converge to exactly one copy of every partition
    Query("manifest_reload", (s, d) => Extras.manifestReload(s, d), monthlyOrdersSql),
    // Spark side runs the BUCKETED range join (equi-join on bucket id +
    // exact BETWEEN refilter); the oracle's plain non-equi join proves
    // the bucketization is lossless and duplicate-free
    Query("events_range_join", (s, d) => Events.rangeJoinWindows(s, d), """
      WITH w AS (
        SELECT i AS window_id,
               date_diff('day', DATE '1970-01-01', DATE '2024-01-01') + i * 3 AS start_day,
               date_diff('day', DATE '1970-01-01', DATE '2024-01-01') + i * 3 + 9 AS end_day
        FROM (SELECT unnest(range(0, 40)) AS i)),
      e AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(ts::TIMESTAMP AS DATE)) AS d,
               floor(value * 10000 + 0.5) / 10000 AS value4
        FROM events)
      SELECT window_id, count(*) AS n_events,
             floor((CAST(sum(CAST(value4 AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
      FROM w JOIN e ON e.d BETWEEN w.start_day AND w.end_day
      GROUP BY 1 ORDER BY 1
    """),
    // Spark side goes through the VARIANT type (parse_json → variant_get)
    Query("variant_props", (s, d) => Events.variantProps(s, d), """
      SELECT CAST(k_int % 10 AS INT) AS k_bucket,
             count(*) AS n_events,
             CAST(sum(k_int) AS BIGINT) AS total_k
      FROM (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_int FROM events)
      GROUP BY 1 ORDER BY 1
    """),
    Query("moving_revenue_7d", (s, d) => Extras.movingRevenue7d(s, d), """
      WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS day_num,
               floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS day_revenue,
               count(*) AS n_orders
        FROM orders GROUP BY 1)
      SELECT DATE '1970-01-01' + CAST(day_num AS INT) AS order_date,
             day_revenue, n_orders,
             floor((CAST(sum(CAST(day_revenue AS DECIMAL(38,8))) OVER (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)) * 10000 + 0.5) / 10000 AS rev7d,
             CAST(sum(n_orders) OVER (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS orders7d
      FROM daily ORDER BY order_date
    """),
    Query("order_analytics", (s, d) => Extras.orderAnalytics(s, d), """
      SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_orderdate AS order_date,
             floor(o_totalprice * 10000 + 0.5) / 10000 AS price,
             CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS seq,
             floor(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) * 10000 + 0.5) / 10000 AS prev_price,
             floor(lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) * 10000 + 0.5) / 10000 AS next_price,
             floor(first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) * 10000 + 0.5) / 10000 AS first_price,
             floor(last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) * 10000 + 0.5) / 10000 AS last_price,
             CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile,
             floor(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) * 10000 + 0.5) / 10000 AS pct_rank,
             floor(cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) * 10000 + 0.5) / 10000 AS cume
      FROM orders ORDER BY custkey, seq
    """),
    Query("sales_cube", (s, d) => Extras.salesCube(s, d), """
      SELECT coalesce(priority, 'ALL') AS priority,
             coalesce(order_year, -1) AS order_year,
             count(*) AS n_orders,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
      FROM (SELECT o_orderpriority AS priority, CAST(year(o_orderdate) AS INT) AS order_year, o_totalprice FROM orders)
      GROUP BY CUBE (priority, order_year)
      ORDER BY priority, order_year
    """),
    // Spark runs the bounded-heap topk_by aggregate; the oracle's window
    // form states the identical (ord DESC, payload ASC) semantics
    Query("top_orders_per_customer", (s, d) => Extras.topOrdersPerCustomer(s, d), """
      SELECT o_custkey AS custkey, CAST(rn AS INT) AS rank,
             o_orderkey AS orderkey,
             floor(o_totalprice * 10000 + 0.5) / 10000 AS totalprice
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 2
      ORDER BY custkey, rank
    """),
    Query("priority_unpivot", (s, d) => Extras.priorityMeasuresUnpivot(s, d), """
      WITH m AS (
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS DOUBLE) AS n_orders,
               floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value,
               floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_value
        FROM orders GROUP BY 1)
      SELECT priority, measure, measure_value FROM (
        SELECT priority, 'avg_value' AS measure, avg_value AS measure_value FROM m
        UNION ALL SELECT priority, 'n_orders', n_orders FROM m
        UNION ALL SELECT priority, 'total_value', total_value FROM m)
      ORDER BY priority, measure
    """),
    Query("dq_orders", (s, d) => graft.engine.DataQuality.check(
      graft.Tables.orders(s, d), Seq(
        graft.engine.DataQuality.NotNull("o_custkey"),
        graft.engine.DataQuality.InRange("o_totalprice", 0, 1000000000),
        graft.engine.DataQuality.Unique("o_orderkey"))), """
      WITH t AS (SELECT count(*) AS total,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS rng,
        CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS uq
      FROM orders)
      SELECT 'not_null_o_custkey' AS rule, total AS n_rows, nn AS n_violations, nn = 0 AS passed FROM t
      UNION ALL SELECT 'range_o_totalprice', total, rng, rng = 0 FROM t
      UNION ALL SELECT 'unique_o_orderkey', total, uq, uq = 0 FROM t
      ORDER BY rule
    """),
    // ordered funnel: each stage's min-ts must be strictly after the
    // user's previous-stage min-ts
    Query("funnel_conversion", (s, d) => Events.funnelConversion(s, d), """
      WITH ev AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
      t1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
      t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN t1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
      t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN t2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
      SELECT '1_view' AS stage, count(*) AS n_users FROM t1
      UNION ALL SELECT '2_click', count(*) FROM t2
      UNION ALL SELECT '3_purchase', count(*) FROM t3
      ORDER BY stage
    """),
    Query("cohort_retention", (s, d) => Events.cohortRetention(s, d), """
      WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
      c AS (SELECT user_id, CAST(strftime(min(ts), '%Y%m%d') AS INT) AS cohort_day
            FROM ev GROUP BY 1),
      a AS (SELECT DISTINCT user_id, CAST(strftime(ts, '%Y%m%d') AS INT) AS activity_day
            FROM ev)
      SELECT cohort_day, activity_day, count(*) AS n_users
      FROM a JOIN c USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2
    """),
    // the oracle uses the single-task window ntile the Spark side
    // deliberately avoids — same tiles, distributed rank
    Query("customer_ntile_segments", (s, d) => Extras.customerNtileSegments(s, d), """
      WITH rev AS (
        SELECT o_custkey,
               floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS revenue
        FROM orders GROUP BY 1),
      t AS (SELECT o_custkey, revenue,
                   CAST(ntile(10) OVER (ORDER BY revenue, o_custkey) AS INT) AS decile
            FROM rev)
      SELECT decile, count(*) AS n_customers,
             min(revenue) AS min_revenue, max(revenue) AS max_revenue,
             floor((CAST(sum(CAST(revenue AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_revenue
      FROM t GROUP BY 1 ORDER BY 1
    """),
    // capped posting lists: rank per term by (tf DESC, doc_id), keep 20;
    // df stays exact over all docs; list serialized to a comma-joined
    // string at the boundary so the checker can hash the column
    Query("postings_index", (s, d) => TextAnalysis.postingsIndex(s, d), """
      WITH tf AS (
        SELECT term, doc_id, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      ranked AS (
        SELECT term, doc_id, tf,
               row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
        FROM tf),
      lists AS (
        SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY tf DESC, doc_id) AS postings
        FROM ranked WHERE rn <= 20 GROUP BY term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      SELECT term, df, postings FROM lists JOIN dfreq USING (term) ORDER BY term
    """),
    // same pattern string on both engines (RE2 ∩ java.util.regex dialect)
    Query("pii_redact", (s, d) => TextAnalysis.piiRedact(s, d), """
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}|[0-9]{3,}|\bcustomer\b|\bkey\b')) AS INT) AS n_redactions,
             md5(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}|[0-9]{3,}|\bcustomer\b|\bkey\b', '[REDACTED]', 'g')) AS clean_md5
      FROM documents ORDER BY doc_id
    """),
    // duplicated k-token spans (k=8): hash every window, keep hashes in
    // ≥2 distinct docs — the substring-dedup signal
    Query("dup_spans", (s, d) => TextAnalysis.dupSpans(s, d), """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      spans AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6), i ->
                 ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT)) AS span_h
        FROM toks WHERE len(t) >= 8)
      SELECT span_h, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
      FROM spans
      GROUP BY span_h
      HAVING count(DISTINCT doc_id) >= 2
      ORDER BY span_h
    """),
    // C4-style global chunk dedup + reassembly: first occurrence =
    // lowest (doc_id, chunk_no) per chunk hash, replayed here as a
    // row_number window; reassembled text compared as md5
    Query("span_dedup", (s, d) => TextAnalysis.spanDedup(s, d), s"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n_toks,
               len(string_split(text, ' ')) // 8 AS n_chunks
        FROM documents),
      $spanChunks,
      hashed AS (
        SELECT doc_id, chunk_no,
               array_to_string(t[(chunk_no*8+1):(chunk_no*8+8)], ' ') AS chunk_text,
               ('0x' || substr(md5(array_to_string(t[(chunk_no*8+1):(chunk_no*8+8)], ' ')), 1, 15))::BIGINT AS chunk_h
        FROM chunks),
      marked AS (
        SELECT doc_id, chunk_no, chunk_text,
               row_number() OVER (PARTITION BY chunk_h ORDER BY doc_id, chunk_no) = 1 AS kept
        FROM hashed),
      perdoc AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_no) FILTER (WHERE kept), '') AS kept_text
        FROM marked GROUP BY doc_id)
      SELECT tk.doc_id,
             CAST(tk.n_chunks AS BIGINT) AS n_chunks,
             CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
             CAST(coalesce(p.n_kept, 0) * 8 + (tk.n_toks - tk.n_chunks * 8) AS BIGINT) AS n_tokens_kept,
             md5(coalesce(array_to_string(list_filter(
               [coalesce(p.kept_text, ''),
                coalesce(array_to_string(tk.t[(tk.n_chunks*8+1):tk.n_toks], ' '), '')],
               s -> s <> ''), ' '), '')) AS clean_md5
      FROM toks tk LEFT JOIN perdoc p USING (doc_id)
      ORDER BY tk.doc_id
    """),
    // k-anonymity / l-diversity audit: QI = (nation, segment, balance
    // band), sensitive = order priority; equivalence classes with size
    // and diversity flags
    Query("k_anonymity", (s, d) => Analytics.kAnonymity(s, d), """
      SELECT c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS group_size,
             CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS n_sensitive,
             count(DISTINCT c.c_custkey) >= 5 AS k_anonymous,
             count(DISTINCT o.o_orderpriority) >= 2 AS l_diverse
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2, 3
      ORDER BY 1, 2, 3
    """),
    // generated SQL: union-MinHash per source (K=16 permutation mins as
    // generated aggregate columns) next to the exact token-set Jaccard
    Query("source_overlap", (s, d) => Dedup.sourceOverlap(s, d), {
      val K = graft.dedup.Dedup.K; val P = graft.dedup.Dedup.P
      val mins = (0 until K).map(i =>
        s"min(((2 * $i + 1) * h + 7 * $i + 3) % $P) AS m$i").mkString(",\n               ")
      val agree = (0 until K).map(i =>
        s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""
      WITH st AS MATERIALIZED (
        SELECT DISTINCT source, t FROM (
          SELECT source, unnest(list_distinct(string_split(text, ' '))) AS t
          FROM documents)),
      h AS (
        SELECT source, t,
               ('0x' || substr(md5(t), 1, 15))::BIGINT % $P AS h
        FROM st),
      sigs AS (
        SELECT source, count(DISTINCT t) AS n_terms,
               $mins
        FROM h GROUP BY source),
      inter AS (
        SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_common
        FROM st x JOIN st y ON x.t = y.t AND x.source < y.source
        GROUP BY 1, 2),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n_terms AS na, b.n_terms AS nb,
               ($agree) AS n_agree
        FROM sigs a JOIN sigs b ON a.source < b.source)
      SELECT p.src_a, p.src_b,
             CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
             CAST(p.na + p.nb - coalesce(i.n_common, 0) AS BIGINT) AS n_union,
             floor((coalesce(i.n_common, 0) / (p.na + p.nb - coalesce(i.n_common, 0))) * 10000 + 0.5) / 10000 AS jaccard,
             floor((n_agree / ${K}.0) * 10000 + 0.5) / 10000 AS est_jaccard
      FROM pairs p LEFT JOIN inter i ON p.src_a = i.src_a AND p.src_b = i.src_b
      ORDER BY p.src_a, p.src_b
    """
    }),
    // vocabulary coverage per language vs the top-50 corpus vocab (the
    // vocab_top_terms definition verbatim)
    Query("tokenizer_coverage", (s, d) => TextAnalysis.tokenizerCoverage(s, d), """
      WITH vocab AS (
        SELECT term FROM (
          SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
          GROUP BY term
          ORDER BY df DESC, tf DESC, term
          LIMIT 50)),
      toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      SELECT t.lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
             floor((sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS coverage,
             floor((1.0 - sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS oov_rate
      FROM toks t LEFT JOIN vocab v ON t.term = v.term
      GROUP BY t.lang
      ORDER BY t.lang
    """),
    // composed SQL: recall@k of IVF vs brute force — both existing
    // oracles nested verbatim as CTE subqueries, joined on the
    // (query, neighbor) pair
    Query("ann_recall", (s, d) => Similarity.annRecall(s, d), s"""
      WITH bf AS ($knnBruteForceSql),
           iv AS ($knnIvfSql)
      SELECT bf.query_id,
             CAST(count(iv.neighbor_id) AS BIGINT) AS n_hit,
             CAST(5 AS BIGINT) AS k,
             floor((count(iv.neighbor_id) / 5.0) * 10000 + 0.5) / 10000 AS recall
      FROM bf LEFT JOIN iv
        ON bf.query_id = iv.query_id AND bf.neighbor_id = iv.neighbor_id
      GROUP BY bf.query_id
      ORDER BY bf.query_id
    """),
    // generated SQL: cluster topic labels — knn_ivf's fit (identical
    // fit ⟹ identical clusters) like semantic_dedup, then assignment +
    // cluster-level TF-IDF
    Query("cluster_topics", (s, d) => Similarity.clusterTopics(s, d),
      ivfPrefix + Similarity.nearestCidSql("assigned", "vec_id, cid") + """,
      tfm AS (
        SELECT a.cid, d.term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) d
        JOIN assigned a ON a.vec_id = d.doc_id
        GROUP BY 1, 2),
      dfm AS (SELECT term, count(*) AS df FROM tfm GROUP BY term),
      sc AS (
        SELECT t.cid, t.term, t.tf, f.df,
               floor((t.tf * ln(10.0 / f.df)) * 10000 + 0.5) / 10000 AS score
        FROM tfm t JOIN dfm f USING (term))
      SELECT cid,
             CAST(row_number() OVER (PARTITION BY cid ORDER BY score DESC, term) AS INT) AS rank,
             term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
      FROM sc
      QUALIFY rank <= 5
      ORDER BY cid, rank
    """),
    // generated SQL: Zipf OLS via the shared money/sumMoney dialect
    // helpers — every ln() money-rounded before the decimal sums
    Query("zipf_fit", (s, d) => TextAnalysis.zipfFit(s, d), s"""
      WITH top AS (
        SELECT term, count(*) AS tf
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term ORDER BY tf DESC, term LIMIT 100),
      pts AS (
        SELECT ${moneySql("ln(row_number() OVER (ORDER BY tf DESC, term))")} AS x,
               ${moneySql("ln(tf)")} AS y
        FROM top),
      s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               ${sumMoneySql("x")} AS sx,
               ${sumMoneySql("y")} AS sy,
               ${sumMoneySql(moneySql("x * x"))} AS sxx,
               ${sumMoneySql(moneySql("x * y"))} AS sxy
        FROM pts)
      SELECT CAST(n AS BIGINT) AS n_terms,
             ${moneySql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS zipf_slope,
             ${moneySql("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n")} AS intercept
      FROM s
    """),
    // composed SQL: the epoch-plan table over corpus_mixture's output
    // (nested verbatim); floor before every long cast — Spark
    // truncates double→long where DuckDB rounds
    Query("mixture_schedule", (s, d) => TextAnalysis.mixtureSchedule(s, d), s"""
      WITH cm AS ($corpusMixtureSql),
      tot AS (SELECT sum(tokens) AS tt FROM cm)
      SELECT cm.source, cm.tokens, cm.weight,
             CAST(floor(cm.weight * floor(tt * 2.0)) AS BIGINT) AS target_tokens,
             floor((CAST(floor(cm.weight * floor(tt * 2.0)) AS BIGINT) / cm.tokens) * 10000 + 0.5) / 10000 AS epochs,
             floor((CAST(floor(cm.weight * floor(tt * 2.0)) AS BIGINT) / cm.tokens) * 10000 + 0.5) / 10000 > 1.0 AS oversampled
      FROM cm, tot
      ORDER BY cm.source
    """),
    // generated SQL: int8 scalar quantization — per-dim ranges as
    // ordered lists, code/error replay with 1-based list indexing
    // (weights (i+1) on the Spark side = i here)
    Query("embedding_quantize", (s, d) => Similarity.embeddingQuantize(s, d), """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      vals AS (SELECT unnest(range(1, len(v) + 1)) AS i, v FROM e),
      mm AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi FROM vals GROUP BY i),
      r AS (SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his FROM mm),
      q AS (
        SELECT vec_id, v, los, his,
               list_transform(range(1, len(v) + 1), i ->
                 CASE WHEN his[i] = los[i] THEN 0
                      ELSE CAST(floor((v[i] - los[i]) / (his[i] - los[i]) * 255 + 0.5) AS BIGINT)
                 END) AS codes
        FROM e, r)
      SELECT vec_id,
             CAST(list_reduce(list_transform(range(1, len(codes) + 1), i -> codes[i] * i),
               (a, b) -> a + b) AS BIGINT) AS code_checksum,
             floor((list_reduce(list_transform(range(1, len(v) + 1), i ->
                 CASE WHEN his[i] = los[i] THEN 0.0
                      ELSE (v[i] - (los[i] + codes[i] / 255.0 * (his[i] - los[i]))) *
                           (v[i] - (los[i] + codes[i] / 255.0 * (his[i] - los[i])))
                 END), (a, b) -> a + b) / len(v) * 1000000.0) * 10000 + 0.5) / 10000 AS recon_mse_ppm
      FROM q
      ORDER BY vec_id
    """),
    // composed SQL: OLS quality distillation — feature CTEs nest the
    // lexical_diversity / text_quality oracles; the Cramer solve tail
    // is the SAME text Spark runs (Analytics.olsTailSql)
    Query("quality_ols", (s, d) => Analytics.qualityOls(s, d), s"""
      WITH ld AS ($lexicalDiversitySql),
      tq AS ($textQualitySql),
      feats AS (
        SELECT ld.entropy_bits AS y,
               ${moneySql("ln(tq.n_tokens)")} AS x1,
               tq.stopword_ratio AS x2
        FROM ld JOIN tq USING (doc_id)),
      sums AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               ${sumMoneySql("x1")} AS s1,
               ${sumMoneySql("x2")} AS s2,
               ${sumMoneySql("y")} AS sy,
               ${sumMoneySql(moneySql("x1 * x1"))} AS s11,
               ${sumMoneySql(moneySql("x1 * x2"))} AS s12,
               ${sumMoneySql(moneySql("x2 * x2"))} AS s22,
               ${sumMoneySql(moneySql("x1 * y"))} AS s1y,
               ${sumMoneySql(moneySql("x2 * y"))} AS s2y,
               ${sumMoneySql(moneySql("y * y"))} AS syy
        FROM feats)
      SELECT ${graft.queries.Analytics.olsTailSql}
      FROM sums
    """),
    // composed SQL: the confusion matrix nests the lang_id oracle
    Query("lang_confusion", (s, d) => TextAnalysis.langConfusion(s, d), s"""
      WITH li AS ($langIdSql)
      SELECT actual_lang, pred_lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             actual_lang = pred_lang AS correct
      FROM li
      GROUP BY 1, 2
      ORDER BY 1, 2
    """),
    // composed SQL: contamination = simhash near-dup pairs crossing
    // the content-hash split boundary
    Query("split_leakage", (s, d) => TextAnalysis.splitLeakage(s, d), s"""
      WITH pairs AS ($simhashPairsSql),
      sp AS (
        SELECT doc_id,
               CASE WHEN ${graft.Fns.h64Sql("text")} % 10 = 0
                    THEN 'test' ELSE 'train' END AS split
        FROM documents)
      SELECT p.doc_a, p.doc_b, p.hamming,
             a.split AS split_a, b.split AS split_b
      FROM pairs p
      JOIN sp a ON a.doc_id = p.doc_a
      JOIN sp b ON b.doc_id = p.doc_b
      WHERE a.split <> b.split
      ORDER BY p.doc_a, p.doc_b
    """),
    // generated SQL: the cluster-aware split shares dedup_clusters'
    // recursive-CC chain — only the final SELECT grows the
    // h64(cluster_id)-mod-10 split column
    Query("cluster_split", (s, d) => TextAnalysis.clusterSplit(s, d), ccChainSql + """
      SELECT c.doc_id, c.cluster_id, s.cluster_size,
             CASE WHEN (('0x' || substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 15))::BIGINT) % 10 = 0
                  THEN 'test' ELSE 'train' END AS split
      FROM comp c JOIN sizes s USING (cluster_id)
      ORDER BY c.doc_id
    """),
    // composed SQL: per-Hamming exact-Jaccard precision over the
    // simhash candidate pairs (token-hash sets replayed in the
    // minhash oracle's % P space)
    Query("simhash_precision", (s, d) => Dedup.simhashPrecision(s, d), s"""
      WITH pairs AS ($simhashPairsSql),
      hsets AS (
        SELECT doc_id,
               list_distinct(list_transform(list_distinct(string_split(text, ' ')),
                 t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % ${graft.dedup.Dedup.P})) AS hs
        FROM documents),
      j AS (
        SELECT p.hamming,
               len(list_intersect(a.hs, b.hs)) AS inter,
               len(a.hs) AS na, len(b.hs) AS nb
        FROM pairs p
        JOIN hsets a ON a.doc_id = p.doc_a
        JOIN hsets b ON b.doc_id = p.doc_b)
      SELECT hamming,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN inter / (na + nb - inter) >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
             floor((CAST(sum(CAST((floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_jaccard,
             floor((sum(CASE WHEN inter / (na + nb - inter) >= 0.9 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS precision
      FROM j
      GROUP BY hamming
      ORDER BY hamming
    """),
    // composed SQL: minhash-pair recall under the simhash pass — the
    // two pair oracles joined on the (doc_a, doc_b) membership key
    // the MinHash side replays the band-0 SAMPLE (bandSubset) — one
    // band row per doc, so no candidate DISTINCT is needed; the
    // SimHash membership side stays exhaustive
    Query("sketch_agreement", (s, d) => Dedup.sketchAgreement(s, d), {
      val mhBand0 = s"""
      WITH ${minhashTokens("doc_id, toks")},
      sig AS (
        SELECT doc_id,
               ${minhashSig(4, "h")}
        FROM th),
      $band0Cand,
      hsets AS (SELECT doc_id, list_distinct(h) AS hs FROM th),
      mpairs AS (${jaccardInter("doc_a", "doc_b", "hsets", "doc_id")})
      SELECT doc_a, doc_b
      FROM mpairs
      WHERE inter / (na + nb - inter) >= 0.9
    """
      s"""
      WITH mh AS ($mhBand0),
      sh AS ($simhashPairsSql)
      SELECT CAST(count(*) AS BIGINT) AS n_minhash_pairs,
             CAST(count(sh.doc_a) AS BIGINT) AS n_caught,
             floor((count(sh.doc_a) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS recall
      FROM mh LEFT JOIN sh ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
    """
    }),
    // composed SQL: PQ recall against the same brute-force truth
    Query("pq_recall", (s, d) => Similarity.pqRecall(s, d), s"""
      WITH bf AS ($knnBruteForceSql),
           pq AS (${Similarity.pqOracleSql()})
      SELECT bf.query_id,
             CAST(count(pq.neighbor_id) AS BIGINT) AS n_hit,
             CAST(5 AS BIGINT) AS k,
             floor((count(pq.neighbor_id) / 5.0) * 10000 + 0.5) / 10000 AS recall
      FROM bf LEFT JOIN pq
        ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
      GROUP BY bf.query_id
      ORDER BY bf.query_id
    """),
    // composed SQL: cluster-size histogram over the CC relation
    Query("cluster_size_hist", (s, d) => Dedup.clusterSizeHist(s, d), s"""
      WITH c AS ($dedupClustersSql)
      SELECT cluster_size,
             CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM c
      GROUP BY cluster_size
      ORDER BY cluster_size
    """),
    // composed SQL: per-source duplication attribution over the CC
    // relation
    Query("source_dup_ratio", (s, d) => Dedup.sourceDupRatio(s, d), s"""
      WITH c AS ($dedupClustersSql)
      SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             floor((sum(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS dup_ratio
      FROM documents d JOIN c ON c.doc_id = d.doc_id
      GROUP BY d.source
      ORDER BY d.source
    """),
    // per-source embedding centroids (money-rounded means, decimal
    // accumulation), pairwise cosine via left-to-right list folds
    Query("source_drift", (s, d) => Similarity.sourceDrift(s, d), """
      WITH em AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      e AS (
        SELECT d.source, unnest(range(1, len(em.v) + 1)) AS i, em.v
        FROM em JOIN documents d ON d.doc_id = em.vec_id),
      cent AS (
        SELECT source, i,
               floor((CAST(sum(CAST((floor(v[i] * 10000 + 0.5) / 10000) AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS c
        FROM e GROUP BY 1, 2),
      vecs AS (SELECT source, list(c ORDER BY i) AS v FROM cent GROUP BY source),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, a.v AS va, b.v AS vb
        FROM vecs a JOIN vecs b ON a.source < b.source)
      SELECT src_a, src_b,
             floor((list_reduce(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]), (x, y) -> x + y)
               / sqrt(list_reduce(list_transform(range(1, len(va) + 1), i -> va[i] * va[i]), (x, y) -> x + y)
                    * list_reduce(list_transform(range(1, len(vb) + 1), i -> vb[i] * vb[i]), (x, y) -> x + y))) * 10000 + 0.5) / 10000 AS centroid_cos
      FROM pairs
      ORDER BY src_a, src_b
    """),
    // per-doc duplicated-chunk coverage: chunk multiplicity replayed on
    // the span_dedup hash space
    Query("doc_span_dup_ratio", (s, d) => TextAnalysis.docSpanDupRatio(s, d), s"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) // 8 AS n_chunks
        FROM documents),
      $spanChunks,
      hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(array_to_string(t[(chunk_no*8+1):(chunk_no*8+8)], ' ')), 1, 15))::BIGINT AS chunk_h
        FROM chunks),
      multi AS (SELECT chunk_h, count(*) AS n_occ FROM hashed GROUP BY 1),
      perdoc AS (
        SELECT h.doc_id,
               CAST(sum(CASE WHEN m.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        FROM hashed h JOIN multi m USING (chunk_h)
        GROUP BY h.doc_id)
      SELECT tk.doc_id,
             CAST(tk.n_chunks AS BIGINT) AS n_chunks,
             CAST(coalesce(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
             CASE WHEN tk.n_chunks > 0
                  THEN floor((coalesce(p.n_dup_chunks, 0) / CAST(tk.n_chunks AS DOUBLE)) * 10000 + 0.5) / 10000
                  ELSE 0.0 END AS dup_ratio
      FROM toks tk LEFT JOIN perdoc p USING (doc_id)
      ORDER BY tk.doc_id
    """),
    // group-aware K-fold: whole sources hash to folds; balance report
    Query("source_folds", (s, d) => TextAnalysis.sourceFolds(s, d), """
      SELECT CAST((('0x' || substr(md5(source), 1, 15))::BIGINT % 4) AS INT) AS fold,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY 1
      ORDER BY 1
    """),
    // generated SQL: prototype-distance outliers over knn_ivf's fit;
    // per-cluster farthest-3 as a rank cut
    Query("embedding_outliers", (s, d) => Similarity.embeddingOutliers(s, d),
      ivfPrefix + Similarity.nearestCidSql("assigned", "vec_id, cid, cos") + """
      SELECT cid,
             CAST(row_number() OVER (PARTITION BY cid ORDER BY cos ASC, vec_id) AS INT) AS rank,
             vec_id, cos AS ccos
      FROM assigned
      QUALIFY rank <= 3
      ORDER BY cid, rank
    """),
    // vocab-size vs coverage curve: ranked top-N vocab joined to the
    // candidate sizes; coverage against the total token mass
    Query("vocab_coverage_curve", (s, d) => TextAnalysis.vocabCoverageCurve(s, d), """
      WITH tf AS (
        SELECT term, count(*) AS tf
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term),
      total AS (SELECT sum(tf) AS total_tf FROM tf),
      top AS (
        SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank
        FROM tf ORDER BY tf DESC, term LIMIT 100),
      sizes AS (SELECT unnest([10, 25, 50, 100]) AS vocab_size)
      SELECT s.vocab_size,
             CAST(sum(t.tf) AS BIGINT) AS n_covered,
             floor((sum(t.tf) / CAST(total_tf AS DOUBLE)) * 10000 + 0.5) / 10000 AS coverage
      FROM sizes s JOIN top t ON t.rank <= s.vocab_size, total
      GROUP BY s.vocab_size, total_tf
      ORDER BY s.vocab_size
    """),
    // gap-flag debounce (the sessionize idiom): first event of each
    // quiet-gap burst per (user, type) survives
    Query("event_debounce", (s, d) => Events.eventDebounce(s, d), """
      WITH g AS (
        SELECT user_id, event_type, event_id, ts::TIMESTAMP AS ts,
               lag(ts::TIMESTAMP) OVER (
                 PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
        FROM events),
      f AS (
        SELECT event_type,
               CASE WHEN prev_ts IS NULL OR
                    CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 300
                    THEN 1 ELSE 0 END AS kept
        FROM g)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(kept) AS BIGINT) AS n_kept,
             floor((1.0 - sum(kept) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS debounce_ratio
      FROM f
      GROUP BY event_type
      ORDER BY event_type
    """),
    // curriculum ordering: exact global rank by (quality desc, doc_id) —
    // Spark side computes it with range-partition + zipWithIndex, never
    // a single-partition window
    Query("curriculum_order", (s, d) => TextAnalysis.curriculumOrder(s, d), s"""
      WITH q AS (
        SELECT doc_id,
               $qualityScore
        FROM (
          ${qualityFeatures("doc_id, n_chars", "documents")}))
      SELECT doc_id, quality_score,
             CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT)
               AS curriculum_pos
      FROM q
      ORDER BY curriculum_pos
    """),
    Query("length_buckets", (s, d) => TextAnalysis.lengthBuckets(s, d), """
      WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents),
      b AS (
        SELECT (1::BIGINT << length(bin(greatest(n_toks, 2) - 1))) AS bucket_width,
               n_toks
        FROM d),
      agg AS (
        SELECT bucket_width,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS real_tokens
        FROM b GROUP BY bucket_width)
      SELECT bucket_width, n_docs, real_tokens,
             CAST(greatest(2048 // bucket_width, 1) AS BIGINT) AS docs_per_batch,
             CAST(ceil(CAST(n_docs AS DOUBLE) / greatest(2048 // bucket_width, 1)) AS BIGINT) AS n_batches,
             CAST(n_docs * bucket_width AS BIGINT) AS padded_tokens,
             floor((1.0 - CAST(real_tokens AS DOUBLE) / (n_docs * bucket_width)) * 10000 + 0.5) / 10000 AS pad_ratio
      FROM agg
      ORDER BY bucket_width
    """),
    // length-bucketed batching plan: next-pow2 token buckets, per-bucket
    // batch counts and padding overhead — aggregates only on both sides
    // packed-pretraining window assignment: the oracle's running-sum
    // window replays Prefix.exclusiveScan's two-pass scan exactly
    // (integer sums, doc_id order is total)
    Query("packing_manifest", (s, d) => TextAnalysis.packingManifest(s, d), """
      WITH d AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents),
      s AS (
        SELECT doc_id, n_toks,
               CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        FROM d)
      SELECT doc_id, n_toks, tok_offset,
             tok_offset // 2048 AS window_id,
             tok_offset % 2048 AS offset_in_window,
             (tok_offset + greatest(n_toks, 1) - 1) // 2048
               - tok_offset // 2048 + 1 AS n_windows
      FROM s
      ORDER BY doc_id
    """),
    // per-source quality quota: the oracle ranks with a window; Spark
    // uses the bounded-heap topk_by (same ORDER BY quality DESC, doc_id)
    Query("source_quota", (s, d) => TextAnalysis.sourceQuota(s, d), s"""
      WITH q AS (
        SELECT doc_id, source,
               $qualityScore
        FROM (
          ${qualityFeatures("doc_id, source", "documents")})),
      ranked AS (
        SELECT source, doc_id, quality_score,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id) AS INT) AS rank
        FROM q)
      SELECT source, rank, doc_id, quality_score
      FROM ranked WHERE rank <= 10
      ORDER BY source, rank
    """),
    // adaptive per-lang threshold: quantile_cont == Spark's exact
    // percentile (both linear-interpolated; money-rounded on both sides)
    Query("quality_gate_per_lang", (s, d) => TextAnalysis.qualityGatePerLang(s, d), s"""
      WITH q AS (
        SELECT doc_id, lang,
               $qualityScore
        FROM (
          ${qualityFeatures("doc_id, lang", "documents")})),
      th AS (
        SELECT lang,
               floor(quantile_cont(quality_score, 0.75) * 10000 + 0.5) / 10000 AS q_threshold
        FROM q GROUP BY lang)
      SELECT lang, q_threshold, count(*) AS n_kept,
             min(quality_score) AS min_kept_quality,
             floor((CAST(sum(CAST((quality_score) AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_kept_quality
      FROM q JOIN th USING (lang)
      WHERE quality_score >= q_threshold
      GROUP BY 1, 2
      ORDER BY lang
    """),
    // one-shot full aggregate: the 3-increment partial-state merge on
    // the Spark side must reproduce it exactly
    Query("mv_incremental", (s, d) => Extras.mvIncremental(s, d), """
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total,
             floor(((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) / count(*)) * 10000 + 0.5) / 10000 AS mean
      FROM orders GROUP BY 1 ORDER BY 1
    """),
    // the bloom prune has no false negatives, so the exact join behind
    // it must reproduce the unpruned decontamination answer exactly
    Query("decontaminate_bloom", (s, d) => TextAnalysis.decontaminateBloom(s, d), s"""
      WITH $benchShingles
      SELECT doc_id, count(*) AS n_shared
      FROM sh JOIN bench USING (g)
      WHERE doc_id % 97 <> 0
      GROUP BY doc_id ORDER BY doc_id
    """),
    Query("daily_revenue_filled", (s, d) => Extras.dailyRevenueFilled(s, d), """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
               floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS day_revenue
        FROM orders GROUP BY 1),
      spine AS (
        SELECT CAST(unnest(generate_series((SELECT min(day) FROM daily),
                                           (SELECT max(day) FROM daily),
                                           INTERVAL 1 DAY)) AS DATE) AS day),
      j AS (SELECT s.day, d.n_orders, d.day_revenue FROM spine s LEFT JOIN daily d USING (day))
      SELECT day, COALESCE(n_orders, 0) AS n_orders,
             day_revenue IS NULL AS is_gap,
             last_value(day_revenue IGNORE NULLS)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_filled
      FROM j ORDER BY day
    """),
    // CDF between two as-of snapshots reconstructed from the same SCD2
    // merge pipeline the snapshot oracle replays
    Query("scd2_diff", (s, d) => Scd2Queries.changes(s, d), s"""
      WITH $scd2Changed,
      old_rows AS (
        SELECT d.part_key, d.price_cents, d.attr_hash,
               DATE '2024-01-01' AS effective_date,
               CASE WHEN c.part_key IS NOT NULL THEN DATE '2024-06-01'
                    ELSE CAST(NULL AS DATE) END AS expiry_date
        FROM dim0 d LEFT JOIN (SELECT DISTINCT part_key FROM changed) c USING (part_key)),
      new_rows AS (
        SELECT part_key, price_cents, attr_hash,
               DATE '2024-06-01' AS effective_date, CAST(NULL AS DATE) AS expiry_date
        FROM changed),
      merged AS (SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows),
      a AS (SELECT part_key, price_cents, attr_hash FROM merged
            WHERE effective_date <= DATE '2024-03-01'
              AND (expiry_date IS NULL OR expiry_date > DATE '2024-03-01')),
      b AS (SELECT part_key, price_cents, attr_hash FROM merged
            WHERE effective_date <= DATE '2024-07-01'
              AND (expiry_date IS NULL OR expiry_date > DATE '2024-07-01'))
      SELECT COALESCE(a.part_key, b.part_key) AS part_key,
             CASE WHEN a.part_key IS NULL THEN 'I'
                  WHEN b.part_key IS NULL THEN 'D' ELSE 'U' END AS op,
             a.price_cents AS old_price_cents,
             b.price_cents AS new_price_cents
      FROM a FULL OUTER JOIN b ON a.part_key = b.part_key
      WHERE a.part_key IS NULL OR b.part_key IS NULL OR a.attr_hash <> b.attr_hash
      ORDER BY part_key
    """),
    // moments from exact integer power sums — merge-order independent,
    // unlike built-in stddev
    Query("events_zscore", (s, d) => Events.hourlyAnomalies(s, d), """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hour, count(*) AS c
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(c) AS DOUBLE) AS sx, CAST(sum(c * c) AS DOUBLE) AS sxx
        FROM hourly GROUP BY 1)
      SELECT event_type, hour, c AS n_events,
             floor(((c - sx / n) / sqrt((n * sxx - sx * sx) / (n * (n - 1)))) * 10000 + 0.5) / 10000 AS zscore
      FROM hourly JOIN stats USING (event_type)
      WHERE abs((c - sx / n) / sqrt((n * sxx - sx * sx) / (n * (n - 1)))) > 2
      ORDER BY event_type, hour
    """),
    // filtered ANN: neighbors restricted to the query's own label —
    // the Spark side runs it as a hash equi-join on label
    Query("knn_filtered", (s, d) => Similarity.knnFilteredByLabel(s, d), s"""
      WITH p AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               $embeddingNorm2
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, label, v AS va, norm2 AS na2 FROM p WHERE vec_id % 100 = 0),
      s AS (
        SELECT q.query_id, p.vec_id AS neighbor_id, q.label,
               floor((list_reduce(list_transform(range(1, len(q.va) + 1), i -> q.va[i] * p.v[i]),
                 (x, y) -> x + y) / sqrt(q.na2 * p.norm2)) * 10000 + 0.5) / 10000 AS cosine
        FROM q JOIN p ON p.label = q.label AND p.vec_id <> q.query_id)
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
             neighbor_id, label, cosine
      FROM s
      QUALIFY rank <= 3
      ORDER BY query_id, rank
    """),
    // period-over-period: self-join of the monthly aggregate on
    // (year-1, month) — gap-tolerant, no global-window lag
    Query("yoy_growth", (s, d) => Extras.yoyGrowth(s, d), """
      WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
               floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS revenue
        FROM orders GROUP BY 1, 2)
      SELECT m.yr, m.mo, m.revenue, p.revenue AS prior_revenue,
             CASE WHEN p.revenue IS NULL OR p.revenue = 0 THEN NULL
                  ELSE floor(((m.revenue - p.revenue) / p.revenue) * 10000 + 0.5) / 10000 END AS yoy_growth
      FROM monthly m LEFT JOIN monthly p ON p.yr = m.yr - 1 AND p.mo = m.mo
      ORDER BY m.yr, m.mo
    """),
    // per-order distinct part list self-joined on the order key, a<b
    Query("basket_pairs", (s, d) => Extras.basketPairs(s, d), """
      WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem)
      SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_orders
      FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
      GROUP BY 1, 2
      ORDER BY n_orders DESC, part_a, part_b
      LIMIT 20
    """),
    // Spark side: per-row generator explode; the chunk-count arithmetic
    // is exact-integer on both engines
    Query("doc_chunks", (s, d) => TextAnalysis.docChunks(s, d), """
      SELECT doc_id, CAST(u AS INT) AS chunk_id,
             substr(text, CAST(u * 150 + 1 AS INT), 200) AS chunk_text,
             CAST(len(substr(text, CAST(u * 150 + 1 AS INT), 200)) AS INT) AS chunk_len
      FROM documents,
           unnest(range(0, CASE WHEN len(text) <= 200 THEN 1
                                ELSE (len(text) - 200 + 149) // 150 + 1 END)) AS t(u)
      ORDER BY doc_id, chunk_id
    """),
    // α=0.5 data-mixture weights; sqrt is correctly-rounded on both
    // engines (pow is not), per-source sqrt is money-rounded BEFORE the
    // decimal normalizing sum so the total is order-independent
    Query("corpus_mixture", (s, d) => TextAnalysis.corpusMixture(s, d), corpusMixtureSql),
    // realized temperature sampling: per-source keep threshold from the
    // alpha=0.5 weights, doc survival by h64(doc_id) % 10000 < threshold
    Query("mixture_sample", (s, d) => TextAnalysis.mixtureSample(s, d), """
      WITH docs AS (
        SELECT doc_id, source, CAST(ceil(n_chars / 4.0) AS BIGINT) AS doc_tokens
        FROM documents),
      per AS (SELECT source, sum(doc_tokens) AS tokens FROM docs GROUP BY source),
      s AS (SELECT *, floor(sqrt(tokens) * 10000 + 0.5) / 10000 AS sq FROM per),
      tot AS (SELECT CAST(sum(CAST(sq AS DECIMAL(38,8))) AS DOUBLE) AS tot_sq,
                     sum(tokens) AS tot_tokens FROM s),
      w1 AS (
        SELECT source, tokens,
               floor((sq / tot_sq) * 10000 + 0.5) / 10000 AS weight,
               floor(tot_tokens * 0.5) AS budget
        FROM s, tot),
      w2 AS (
        SELECT source, tokens,
               floor((weight * budget) * 10000 + 0.5) / 10000 AS target
        FROM w1),
      w3 AS (
        SELECT source,
               least(1.0, floor((target / tokens) * 10000 + 0.5) / 10000) AS p
        FROM w2),
      th AS (
        SELECT source, CAST(floor(p * 10000 + 0.5) AS BIGINT) AS thresh
        FROM w3)
      SELECT d.source, th.thresh, count(*) AS n_kept,
             CAST(sum(d.doc_tokens) AS BIGINT) AS kept_tokens
      FROM docs d JOIN th ON d.source = th.source
      WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000) < th.thresh
      GROUP BY 1, 2
      ORDER BY d.source
    """),
    // staged curation composite: dedup -> per-lang p75 gate (thresholds
    // learned AFTER dedup) -> per-source top-10 quota -> summary
    Query("curation_pipeline", (s, d) => TextAnalysis.curationPipeline(s, d), s"""
      WITH kept AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      d AS (SELECT doc.* FROM documents doc JOIN kept USING (doc_id)),
      q AS (
        SELECT doc_id, lang, source, n_chars,
               $qualityScore
        FROM (
          ${qualityFeatures("doc_id, lang, source, n_chars", "d")})),
      th AS (
        SELECT lang,
               floor(quantile_cont(quality_score, 0.75) * 10000 + 0.5) / 10000 AS t
        FROM q GROUP BY lang),
      g AS (SELECT q.* FROM q JOIN th USING (lang) WHERE quality_score >= t),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id) AS rn
        FROM g),
      f AS (SELECT * FROM r WHERE rn <= 10)
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS tokens,
             floor((CAST(sum(CAST(quality_score AS DECIMAL(38,8))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_quality
      FROM f
      GROUP BY 1, 2
      ORDER BY lang, source
    """),
    // Spark side generates candidates via a (lang, length-band ±1)
    // equi-join with the bounded levenshtein; the oracle's plain non-equi
    // join proves the banding is lossless. Byte- vs codepoint-based
    // levenshtein agree on this all-ASCII fixture (spec-pinned).
    Query("edit_dist_pairs", (s, d) => Dedup.editDistancePairs(s, d), """
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120)) AS INT) AS edit_dist
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND abs(a.n_chars - b.n_chars) <= 60
      WHERE levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120)) <= 12
      ORDER BY doc_a, doc_b
    """),
    // both engines run the IDENTICAL recursion (Spark: native recursive
    // CTE / UnionLoop); the per-step money-rounding has no closed form,
    // so a hash match proves step-by-step iterative equivalence
    Query("compound_index", (s, d) => Extras.compoundIndex(s, d), """
      WITH RECURSIVE monthly AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
               floor((CAST(sum(CAST((o_totalprice) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS revenue
        FROM orders GROUP BY 1, 2),
      seq AS (
        SELECT yr, mo, revenue,
               CAST(row_number() OVER (ORDER BY yr, mo) AS INT) AS idx
        FROM monthly),
      rec AS (
        SELECT idx, yr, mo, revenue, CAST(100.0 AS DOUBLE) AS index_value
        FROM seq WHERE idx = 1
        UNION ALL
        SELECT s.idx, s.yr, s.mo, s.revenue,
               floor((r.index_value * (s.revenue / r.revenue)) * 10000 + 0.5) / 10000
        FROM rec r JOIN seq s ON s.idx = r.idx + 1)
      SELECT idx, yr, mo, revenue, index_value FROM rec ORDER BY idx
    """),
    // same simhash + recursive-CTE connected components as dedup_clusters,
    // extended by the survivor election (longest doc, ties to smaller id)
    Query("dedup_canonical", (s, d) => Dedup.canonicalDocs(s, d), ccChainSql + """,
      kept AS (
        SELECT cluster_id, doc_id AS kept_doc_id FROM (
          SELECT c.cluster_id, c.doc_id,
                 row_number() OVER (PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id) AS rn
          FROM comp c JOIN documents d USING (doc_id)) t
        WHERE rn = 1)
      SELECT c.doc_id, c.cluster_id, s.cluster_size, k.kept_doc_id,
             CASE WHEN c.doc_id = k.kept_doc_id THEN 1 ELSE 0 END AS keep
      FROM comp c JOIN sizes s USING (cluster_id) JOIN kept k USING (cluster_id)
      ORDER BY c.doc_id
    """),
    Query("group_sample", (s, d) => TextAnalysis.groupSample(s, d), """
      SELECT lang, source, rank, doc_id FROM (
        SELECT lang, source, doc_id,
               CAST(row_number() OVER (PARTITION BY lang, source
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT,
                          doc_id) AS INT) AS rank
        FROM documents) t
      WHERE rank <= 5
      ORDER BY lang, source, rank
    """),
    Query("top_docs_list", (s, d) => TextAnalysis.topDocsList(s, d), """
      SELECT lang, source,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS top_docs,
             max(n_chars) AS max_chars
      FROM (
        SELECT lang, source, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents) t
      WHERE rn <= 3
      GROUP BY lang, source
      ORDER BY lang, source
    """),
    Query("manifest_cdf", (s, d) => Extras.manifestCdf(s, d), """
      WITH mo AS (SELECT o_totalprice,
                         CAST(strftime(o_orderdate, '%Y%m') AS INT) AS im
                  FROM orders),
      mx AS (SELECT max(im) AS mx FROM mo)
      SELECT * FROM (
        SELECT 'delete' AS _change_type, count(*) AS n_rows,
               floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
        FROM mo, mx WHERE im = mx.mx
        UNION ALL
        SELECT 'insert', count(*),
               floor((CAST(sum(CAST((o_totalprice / 2) AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000
        FROM mo, mx WHERE im = mx.mx) t
      ORDER BY _change_type
    """),
    // the oracle recomputes the row diff from the restatement rules
    // applied to the BUSIEST month (ties -> latest): %3==0 half-priced
    // (update), %3==1 dropped (delete), %3==2 cloned to key+10M
    // (insert); untouched rows of the rewritten partition must not appear
    Query("manifest_diff", (s, d) => Extras.manifestDiff(s, d), """
      WITH mo AS (SELECT o_orderkey, o_totalprice,
                         CAST(strftime(o_orderdate, '%Y%m') AS INT) AS im
                  FROM orders),
      mx AS (SELECT im AS mx FROM mo GROUP BY im
             ORDER BY count(*) DESC, im DESC LIMIT 1),
      tgt AS (SELECT o_orderkey, o_totalprice FROM mo, mx WHERE im = mx.mx)
      SELECT * FROM (
        SELECT o_orderkey, 'update' AS _change_type,
               o_totalprice AS old_price, o_totalprice / 2 AS new_price
        FROM tgt WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, 'delete', o_totalprice, NULL
        FROM tgt WHERE o_orderkey % 3 = 1
        UNION ALL
        SELECT o_orderkey + 10000000, 'insert', NULL, o_totalprice
        FROM tgt WHERE o_orderkey % 3 = 2) t
      ORDER BY o_orderkey, _change_type
    """),
    // the engine restates the latest month's prices at half value; the
    // oracle recomputes the implied delete+insert feed from raw orders
    // oracle = FULL rebuild of the final state (latest month half-priced)
    // — equality with the CDF-driven partial refresh IS the proof
    Query("mart_incremental_refresh", (s, d) => Extras.martIncrementalRefresh(s, d), """
      WITH mo AS (SELECT o_orderpriority AS priority, o_totalprice,
                         CAST(strftime(o_orderdate, '%Y%m') AS INT) AS ingestion_month
                  FROM orders),
      mx AS (SELECT max(ingestion_month) AS mx FROM mo),
      fin AS (SELECT ingestion_month, priority,
                     CASE WHEN ingestion_month = (SELECT mx FROM mx)
                          THEN o_totalprice / 2 ELSE o_totalprice END AS p
              FROM mo)
      SELECT ingestion_month, priority, count(*) AS n_rows,
             floor((CAST(sum(CAST(p AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total,
             floor((CAST(sum(CAST(p AS DECIMAL(38,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS mean
      FROM fin
      GROUP BY 1, 2
      ORDER BY ingestion_month, priority
    """),
    Query("event_transitions", (s, d) => Events.eventTransitions(s, d), """
      WITH g AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events),
      m AS (
        SELECT prev_type, event_type, count(*) AS n_transitions
        FROM g WHERE prev_type IS NOT NULL
        GROUP BY 1, 2)
      SELECT prev_type, event_type, n_transitions,
             floor((n_transitions / (sum(n_transitions) OVER (PARTITION BY prev_type))) * 10000 + 0.5) / 10000 AS p_transition
      FROM m
      ORDER BY prev_type, event_type
    """),
    Query("customers_all_priorities", (s, d) => Extras.customersAllPriorities(s, d), """
      SELECT o_custkey, count(*) AS n_orders,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
      FROM orders
      GROUP BY o_custkey
      HAVING count(DISTINCT o_orderpriority) =
             (SELECT count(DISTINCT o_orderpriority) FROM orders)
      ORDER BY o_custkey
    """),
    Query("lateral_top_orders", (s, d) => Extras.lateralTopOrders(s, d), """
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """),
    Query("normalize_text", (s, d) => TextAnalysis.normalizeText(s, d), """
      SELECT doc_id, n_chars,
             length(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS n_norm_chars,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
      FROM documents
      ORDER BY doc_id
    """),
    // Fixed-point PageRank (damping 0.85, 5 iterations) over the symmetric
    // co-purchase part graph — all-integer arithmetic, iterations unrolled
    // as chained CTEs (no aggregate over a recursive reference). DuckDB's
    // sum(BIGINT) is HUGEINT, so each iteration casts back to BIGINT.
    Query("part_pagerank", (s, d) => Graphs.partPagerank(s, d), """
      WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
      edges0 AS (
        SELECT DISTINCT a.part AS src, b.part AS dst
        FROM items a JOIN items b ON a.okey = b.okey AND a.part <> b.part),
      deg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY 1),
      e AS (SELECT e0.src, e0.dst, d.outdeg FROM edges0 e0 JOIN deg d ON d.src = e0.src),
      params AS (SELECT 1000000000000 // count(*) AS r0,
                        (15 * (1000000000000 // count(*))) // 100 AS base FROM deg),
      pr0 AS (SELECT src AS node, (SELECT r0 FROM params) AS rank_fx FROM deg),
      pr1 AS (SELECT e.dst AS node, CAST((SELECT base FROM params)
                + (85 * sum(p.rank_fx // e.outdeg)) // 100 AS BIGINT) AS rank_fx
              FROM e JOIN pr0 p ON p.node = e.src GROUP BY e.dst),
      pr2 AS (SELECT e.dst AS node, CAST((SELECT base FROM params)
                + (85 * sum(p.rank_fx // e.outdeg)) // 100 AS BIGINT) AS rank_fx
              FROM e JOIN pr1 p ON p.node = e.src GROUP BY e.dst),
      pr3 AS (SELECT e.dst AS node, CAST((SELECT base FROM params)
                + (85 * sum(p.rank_fx // e.outdeg)) // 100 AS BIGINT) AS rank_fx
              FROM e JOIN pr2 p ON p.node = e.src GROUP BY e.dst),
      pr4 AS (SELECT e.dst AS node, CAST((SELECT base FROM params)
                + (85 * sum(p.rank_fx // e.outdeg)) // 100 AS BIGINT) AS rank_fx
              FROM e JOIN pr3 p ON p.node = e.src GROUP BY e.dst),
      pr5 AS (SELECT e.dst AS node, CAST((SELECT base FROM params)
                + (85 * sum(p.rank_fx // e.outdeg)) // 100 AS BIGINT) AS rank_fx
              FROM e JOIN pr4 p ON p.node = e.src GROUP BY e.dst)
      SELECT node AS part, rank_fx FROM pr5 ORDER BY rank_fx DESC, part
    """),
    // generated SQL: synchronous label propagation unrolled 4 rounds —
    // per round a (node, label) count + deterministic argmax QUALIFY;
    // the edge CTE is MATERIALIZED (referenced once per round)
    Query("part_communities", (s, d) => Graphs.partCommunities(s, d), {
      val rounds = (1 to 4).map { i =>
        s"""r$i AS (
        SELECT e.src AS part, l.label, count(*) AS c
        FROM e JOIN l${i - 1} l ON l.part = e.dst
        GROUP BY 1, 2),
      l$i AS (
        SELECT part, label FROM r$i
        QUALIFY row_number() OVER (PARTITION BY part ORDER BY c DESC, label) = 1)"""
      }.mkString(",\n      ")
      s"""
      WITH $coPurchaseEdges,
      l0 AS (SELECT DISTINCT src AS part, src AS label FROM e),
      $rounds
      SELECT part, label AS community,
             count(*) OVER (PARTITION BY label) AS community_size
      FROM l4 ORDER BY part
    """
    }),
    // generated SQL: synchronous k-core peeling unrolled 12 rounds —
    // per round one alive-join + grouped count with HAVING >= k; k is
    // the density-adaptive (7·Σdeg) div (10·|V|) scalar, integer
    // arithmetic in both engines. Monotone shrinkage makes the
    // round-12 set a pure function of the edge set (see
    // Graphs.partKcore's determinism note)
    Query("part_kcore", (s, d) => Graphs.partKcore(s, d), {
      val rounds = (1 to 12).map { i =>
        s"""n$i AS (
        SELECT e.dst AS part, count(*) AS core_degree
        FROM e JOIN n${i - 1} a ON e.src = a.part
        GROUP BY 1 HAVING count(*) >= (SELECT k FROM kv))"""
      }.mkString(",\n      ")
      s"""
      WITH $coPurchaseEdges,
      kv AS (
        SELECT (7 * sum(c)) // (10 * count(*)) AS k
        FROM (SELECT src, count(*) AS c FROM e GROUP BY 1)),
      n0 AS (SELECT DISTINCT src AS part FROM e),
      $rounds
      SELECT part, core_degree FROM n12 ORDER BY part
    """
    }),
    // p05/p95 money-rounded BEFORE clipping so clipped values sit on the
    // 1e-4 grid (decimal-accumulated mean is then order-independent)
    Query("winsorized_stats", (s, d) => Extras.winsorizedStats(s, d), """
      WITH b AS (
        SELECT o_orderpriority AS priority,
               floor(quantile_cont(o_totalprice, 0.05) * 10000 + 0.5) / 10000 AS lo,
               floor(quantile_cont(o_totalprice, 0.95) * 10000 + 0.5) / 10000 AS hi
        FROM orders GROUP BY 1)
      SELECT o.o_orderpriority AS priority,
             count(*) AS n_orders,
             CAST(sum(CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
             CAST(sum(CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
             floor((CAST(sum(CAST(least(greatest(o.o_totalprice, b.lo), b.hi) AS DECIMAL(38,8))) AS DOUBLE)
                    / count(*)) * 10000 + 0.5) / 10000 AS winsor_mean,
             floor((CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
                    / count(*)) * 10000 + 0.5) / 10000 AS raw_mean,
             max(b.lo) AS lo, max(b.hi) AS hi
      FROM orders o JOIN b ON b.priority = o.o_orderpriority
      GROUP BY 1 ORDER BY 1
    """),
    // oracle = the training loop unrolled as a generated DuckDB CTE chain
    // (Bpe.oracleSql); additionally pinned against a sequential reference
    // trainer in BpeSpec
    // generated SQL: the BPE training loop unrolled k times (argmax +
    // greedy-remap per round as a CTE chain) — see Bpe.oracleSql
    Query("bpe_merges", (s, d) => graft.text.Bpe.trainMerges(s, d), graft.text.Bpe.oracleSql(10)),
    // frontier = distinct (price, size) pairs where no earlier pair in
    // (price asc, size desc) order has size >= own — the window replay of
    // the Spark side's distributed exclusive prefix-max
    Query("part_skyline", (s, d) => Analytics.partSkyline(s, d), """
      WITH d AS (
        SELECT p_retailprice AS price, p_size AS psize, count(*) AS n_parts
        FROM part GROUP BY 1, 2),
      s AS (
        SELECT *, max(psize) OVER (ORDER BY price ASC, psize DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM d)
      SELECT price, psize, n_parts FROM s
      WHERE pmax IS NULL OR psize > pmax
      ORDER BY price
    """),
    // all-integer systematic PPS draw: select orders whose cumulative
    // weight interval crosses a stride boundary (stride = total/100)
    Query("pps_sample", (s, d) => Analytics.ppsSample(s, d), """
      WITH w AS (
        SELECT o_orderkey, o_totalprice,
               CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS wt
        FROM orders),
      c AS (
        SELECT *, CAST(coalesce(sum(wt) OVER (ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        FROM w),
      s AS (SELECT CAST(sum(wt) // 100 AS BIGINT) AS stride FROM w)
      SELECT o_orderkey, o_totalprice,
             CAST((cum + wt) // (SELECT stride FROM s) AS BIGINT) AS bucket
      FROM c
      WHERE (cum + wt) // (SELECT stride FROM s) > cum // (SELECT stride FROM s)
      ORDER BY o_orderkey
    """),
    Query("ewma_revenue", (s, d) => Analytics.ewmaRevenue(s, d), Analytics.ewmaRevenueOracleSql(30)),
    // median/MAD pre-rounded to the 1e-4 grid before the 3-MAD compare,
    // so the outlier predicate tests identical doubles on both engines
    Query("mad_outliers", (s, d) => Analytics.madOutliers(s, d), """
      WITH med AS (
        SELECT o_orderpriority AS priority,
               floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5) / 10000 AS med
        FROM orders GROUP BY 1),
      dev AS (
        SELECT o.o_orderpriority AS priority, o.o_totalprice, m.med,
               abs(o.o_totalprice - m.med) AS adev
        FROM orders o JOIN med m ON m.priority = o.o_orderpriority),
      mad AS (
        SELECT priority, floor(quantile_cont(adev, 0.5) * 10000 + 0.5) / 10000 AS mad
        FROM dev GROUP BY 1)
      SELECT d.priority, count(*) AS n_orders, max(d.med) AS med, max(m.mad) AS mad,
             CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev d JOIN mad m ON m.priority = d.priority
      GROUP BY 1 ORDER BY 1
    """),
    // numeric min/max only (string-casting doubles/timestamps is
    // engine-dialect quicksand); one UNION ALL branch per column
    Query("profile_orders", (s, d) => Analytics.profileOrders(s, d), """
      SELECT * FROM (
        SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS DOUBLE) AS min_num,
               CAST(max(o_orderkey) AS DOUBLE) AS max_num
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderstatus),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_totalprice),
               CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*),
               CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderdate),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderpriority),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders)
      ORDER BY col_name
    """),
    // corpus bigram counts via the zipped-unnest + lead window (same
    // idiom as the BPE oracle); rare = corpus frequency <= 2
    Query("bigram_novelty", (s, d) => Analytics.bigramNovelty(s, d), """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      u AS (
        SELECT doc_id, unnest(toks) AS tok,
               unnest(range(1, len(toks) + 1)) AS pos
        FROM t),
      b AS (
        SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM u
        QUALIFY lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
      c AS (SELECT bigram, count(*) AS bg_count FROM b GROUP BY 1)
      SELECT b.doc_id, count(*) AS n_bigrams,
             CAST(sum(CASE WHEN c.bg_count <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
             floor(CAST(sum(CASE WHEN c.bg_count <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) * 10000 + 0.5) / 10000 AS rare_ratio
      FROM b JOIN c USING (bigram)
      GROUP BY 1 ORDER BY 1
    """),
    Query("bpe_segment", (s, d) => graft.text.Bpe.segmentedVocab(s, d), graft.text.Bpe.segmentOracleSql(10)),
    // degree-ordered orientation (direct each edge toward the higher
    // (degree, id) endpoint — an acyclic total order), then a triangle is
    // an oriented wedge u→v→w closed by u→w: each counted exactly once
    Query("triangle_counts", (s, d) => Graphs.triangleCounts(s, d), """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
      und AS (
        SELECT DISTINCT a.part AS a, b.part AS b
        FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part),
      deg AS (
        SELECT n, count(*) AS d FROM (
          SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
        GROUP BY 1),
      e AS (
        SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS src,
               CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS dst
        FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
      t AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM e e1
        JOIN e e2 ON e2.src = e1.dst
        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      corners AS (
        SELECT u AS part FROM t UNION ALL SELECT v FROM t UNION ALL SELECT w FROM t)
      SELECT part, count(*) AS n_triangles FROM corners
      GROUP BY 1 ORDER BY n_triangles DESC, part LIMIT 20
    """),
    // daily means decimal-accumulated and money-rounded BEFORE the index
    // division, so the ratio divides identical 1e-4-grid doubles
    Query("dow_seasonality", (s, d) => Analytics.dowSeasonality(s, d), """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS rev
        FROM orders GROUP BY 1),
      d AS (
        SELECT CAST(isodow(day) AS INT) AS dow, count(*) AS n_days,
               floor(CAST(sum(CAST(rev AS DECIMAL(38,8))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS dow_mean
        FROM daily GROUP BY 1),
      o AS (
        SELECT floor(CAST(sum(CAST(rev AS DECIMAL(38,8))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS overall_mean
        FROM daily)
      SELECT dow, n_days, dow_mean,
             floor(dow_mean / (SELECT overall_mean FROM o) * 10000 + 0.5) / 10000 AS seasonal_index
      FROM d ORDER BY dow
    """),
    // OLS via the five power sums; x sums exact as DECIMAL(38,0), y sums
    // as DECIMAL(38,8); the slope is the same double-op tree as Spark's
    Query("revenue_trend", (s, d) => Analytics.revenueTrend(s, d), """
      WITH p AS (
        SELECT o_orderpriority AS priority,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
               o_totalprice AS y
        FROM orders)
      SELECT priority, count(*) AS n_orders,
             floor(CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000 AS mean_price,
             floor((CAST(count(*) AS DOUBLE) * CAST(sum(CAST(y AS DECIMAL(20,8)) * CAST(x AS DECIMAL(10,0))) AS DOUBLE)
                    - CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) * CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE))
                   / (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0))) AS DOUBLE)
                      - CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) * CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE))
                   * 365.0 * 10000 + 0.5) / 10000 AS slope_per_year
      FROM p GROUP BY 1 ORDER BY 1
    """),
    // level-2 Apriori: integer support counts, confidence and lift as fixed
    // double-op trees over exact integers, ranked by integer keys only
    Query("basket_rules", (s, d) => Analytics.basketRules(s, d), """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
      cnt AS (SELECT part, count(*) AS c FROM items GROUP BY 1),
      nb AS (SELECT count(DISTINCT okey) AS n_baskets FROM items),
      pairs AS (
        SELECT a.part AS part_a, b.part AS part_b, count(*) AS pair_count
        FROM items a JOIN items b ON a.okey = b.okey AND a.part <> b.part
        GROUP BY 1, 2)
      SELECT p.part_a, p.part_b, p.pair_count,
             floor(CAST(p.pair_count AS DOUBLE) / CAST(ca.c AS DOUBLE) * 10000 + 0.5) / 10000 AS confidence,
             floor((CAST(p.pair_count AS DOUBLE) * CAST((SELECT n_baskets FROM nb) AS DOUBLE))
                   / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) * 10000 + 0.5) / 10000 AS lift
      FROM pairs p JOIN cnt ca ON ca.part = p.part_a JOIN cnt cb ON cb.part = p.part_b
      ORDER BY p.pair_count DESC, p.part_a, p.part_b LIMIT 20
    """),
    // entropy via log2(n) - (sum tf*log2(tf))/n with each term
    // money-rounded BEFORE the decimal accumulation (the tfidf_checksum
    // order-independence discipline)
    Query("lexical_diversity", (s, d) => TextAnalysis.lexicalDiversity(s, d), lexicalDiversitySql),
    // HHI in the integer form sum(cnt^2)/total^2 (exact decimal sums),
    // never a float sum of per-key shares
    Query("partkey_skew", (s, d) => Analytics.partkeySkew(s, d), """
      WITH cnt AS (
        SELECT l_partkey AS part, count(*) AS cnt FROM lineitem GROUP BY 1),
      tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total,
               sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))) AS sumsq
        FROM cnt)
      SELECT part, cnt,
             floor(CAST(cnt AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE) * 100 * 10000 + 0.5) / 10000 AS share_pct,
             floor(CAST((SELECT sumsq FROM tot) AS DOUBLE)
                   / (CAST((SELECT total FROM tot) AS DOUBLE) * CAST((SELECT total FROM tot) AS DOUBLE)) * 10000 * 10000 + 0.5) / 10000 AS hhi_x10k
      FROM cnt ORDER BY cnt DESC, part LIMIT 20
    """),
    // neighborhood Jaccard on existing edges only; the intersection is
    // replayed as common-neighbor join counting (oracle-side wedge
    // enumeration is fine at verify scale)
    Query("part_similarity", (s, d) => Graphs.partSimilarity(s, d), s"""
      WITH $coPurchaseUnd,
      adj AS (
        SELECT a AS n, b AS nb FROM und UNION ALL SELECT b AS n, a AS nb FROM und),
      deg AS (SELECT n, count(*) AS d FROM adj GROUP BY 1),
      inter AS (
        SELECT u.a, u.b, count(*) AS n_common
        FROM und u
        JOIN adj x ON x.n = u.a
        JOIN adj y ON y.n = u.b AND y.nb = x.nb
        GROUP BY 1, 2)
      SELECT i.a AS part_a, i.b AS part_b, i.n_common,
             da.d AS deg_a, db.d AS deg_b,
             floor(CAST(i.n_common AS DOUBLE)
                   / CAST(da.d + db.d - i.n_common AS DOUBLE) * 10000 + 0.5) / 10000 AS jaccard
      FROM inter i JOIN deg da ON da.n = i.a JOIN deg db ON db.n = i.b
      WHERE i.n_common >= 20
      ORDER BY i.a, i.b
    """),
    // MinHash+LSH over co-purchase neighbor sets (node→doc,
    // neighbor-id→token): the oracle replays signature, 8×2 banding,
    // the bucket-size window cut, AND the exact verify — proving the
    // cap is candidate-gen-only, like dedup_minhash_capped
    Query("part_similarity_capped", (s, d) => Graphs.partSimilarityCapped(s, d), s"""
      WITH $coPurchaseUnd,
      adj AS (
        SELECT n, list(nb) AS nbrs FROM (
          SELECT a AS n, b AS nb FROM und UNION ALL SELECT b AS n, a AS nb FROM und)
        GROUP BY n),
      th AS (
        SELECT n, list_sort(list_distinct(list_transform(nbrs, t ->
          ('0x' || substr(md5(CAST(t AS VARCHAR)), 1, 15))::BIGINT % 1000000007))) AS hs
        FROM adj),
      sig AS (
        SELECT n, hs,
               ${minhashSig(16, "hs")}
        FROM th),
      bands AS (
        SELECT n, bs.b AS band, sig[bs.b*2+1] AS k1, sig[bs.b*2+2] AS k2
        FROM sig CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS b) bs),
      capped AS (
        SELECT n, band, k1, k2
        FROM (SELECT *, count(*) OVER (PARTITION BY band, k1, k2) AS bsz
              FROM bands)
        WHERE bsz <= 10),
      cand AS (
        SELECT DISTINCT x.n AS part_a, y.n AS part_b
        FROM capped x JOIN capped y
          ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.n < y.n),
      pairs AS (${jaccardInter("part_a", "part_b", "th", "n")})
      SELECT part_a, part_b,
             floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS jaccard
      FROM pairs
      WHERE inter / (na + nb - inter) >= 0.1
      ORDER BY part_a, part_b
    """),
    // RFM: exact quartile cutoffs money-rounded before the comparisons,
    // scores 1-4 per axis (recency inverted: recent = 4)
    Query("rfm_segments", (s, d) => Analytics.rfmSegments(s, d), """
      WITH pc AS (
        SELECT o_custkey AS custkey,
               date_diff('day', DATE '1970-01-01', CAST(max(o_orderdate) AS DATE)) AS lastday,
               count(*) AS frequency,
               floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) * 10000 + 0.5) / 10000 AS monetary
        FROM orders GROUP BY 1),
      rc AS (
        SELECT *, CAST((SELECT max(lastday) FROM pc) - lastday AS BIGINT) AS recency FROM pc),
      cuts AS (
        SELECT floor(quantile_cont(CAST(recency AS DOUBLE), 0.25) * 10000 + 0.5) / 10000 AS r25,
               floor(quantile_cont(CAST(recency AS DOUBLE), 0.5)  * 10000 + 0.5) / 10000 AS r50,
               floor(quantile_cont(CAST(recency AS DOUBLE), 0.75) * 10000 + 0.5) / 10000 AS r75,
               floor(quantile_cont(CAST(frequency AS DOUBLE), 0.25) * 10000 + 0.5) / 10000 AS f25,
               floor(quantile_cont(CAST(frequency AS DOUBLE), 0.5)  * 10000 + 0.5) / 10000 AS f50,
               floor(quantile_cont(CAST(frequency AS DOUBLE), 0.75) * 10000 + 0.5) / 10000 AS f75,
               floor(quantile_cont(monetary, 0.25) * 10000 + 0.5) / 10000 AS m25,
               floor(quantile_cont(monetary, 0.5)  * 10000 + 0.5) / 10000 AS m50,
               floor(quantile_cont(monetary, 0.75) * 10000 + 0.5) / 10000 AS m75
        FROM rc),
      s AS (
        SELECT custkey, monetary,
               5 - (1 + CAST(CAST(recency AS DOUBLE) > (SELECT r25 FROM cuts) AS INT)
                      + CAST(CAST(recency AS DOUBLE) > (SELECT r50 FROM cuts) AS INT)
                      + CAST(CAST(recency AS DOUBLE) > (SELECT r75 FROM cuts) AS INT)) AS r_score,
               1 + CAST(CAST(frequency AS DOUBLE) > (SELECT f25 FROM cuts) AS INT)
                 + CAST(CAST(frequency AS DOUBLE) > (SELECT f50 FROM cuts) AS INT)
                 + CAST(CAST(frequency AS DOUBLE) > (SELECT f75 FROM cuts) AS INT) AS f_score,
               1 + CAST(monetary > (SELECT m25 FROM cuts) AS INT)
                 + CAST(monetary > (SELECT m50 FROM cuts) AS INT)
                 + CAST(monetary > (SELECT m75 FROM cuts) AS INT) AS m_score
        FROM rc)
      SELECT r_score, f_score, m_score, count(*) AS n_customers,
             floor(CAST(sum(CAST(monetary AS DECIMAL(38,8))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_monetary
      FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """),
    // generated SQL: DoReMi one-step reweighting extends lm_perplexity's
    // chain like perplexity_gate; every mean/mass is
    // money-rounded then decimal-accumulated in both engines
    Query("doremi_weights", (s, d) => TextAnalysis.doremiWeights(s, d), lmChainSql + s"""
      , scored AS (
        SELECT d.doc_id, d.bits_per_token, x.source
        FROM doc d JOIN documents x USING (doc_id)),
      ref AS (
        SELECT ${moneySql(sumMoneySql("bits_per_token") + " / count(*)")} AS ref_bits,
               CAST(count(*) AS DOUBLE) AS n_total
        FROM scored),
      per AS (
        SELECT source, count(*) AS n_docs,
               ${moneySql(sumMoneySql("bits_per_token") + " / count(*)")} AS mean_bits
        FROM scored GROUP BY 1),
      mass AS (
        SELECT p.source, p.n_docs, p.mean_bits,
               ${moneySql("greatest(0.0, p.mean_bits - r.ref_bits)")} AS excess_bits,
               ${moneySql("p.n_docs / r.n_total")} AS base_share
        FROM per p CROSS JOIN ref r),
      m2 AS (
        SELECT *,
               ${moneySql("base_share * (" + moneySql("pow(2.0, excess_bits)") + ")")} AS mass
        FROM mass),
      tot AS (SELECT ${sumMoneySql("mass")} AS tot FROM m2)
      SELECT source, n_docs, mean_bits, excess_bits, base_share,
             ${moneySql("mass / tot.tot")} AS weight
      FROM m2 CROSS JOIN tot ORDER BY source
    """),
    // frame-sample manifest: blocks are 256-BYTE groups of the payload;
    // the fixture is all-ASCII so byte blocks equal substring blocks and
    // the md5 checksum replays exactly
    Query("media_frames", (s, d) => Multimodal.frameManifest(s, d), """
      SELECT doc_id, CAST(u AS INT) AS frame_idx,
             CAST(u * 256 AS BIGINT) AS offset_bytes,
             ('0x' || substr(md5(substr(text, CAST(u * 256 + 1 AS INT), 256)), 1, 15))::BIGINT AS frame_checksum
      FROM documents, unnest(range(0, (strlen(text) + 255) // 256)) AS t(u)
      WHERE u % 4 = 0
      ORDER BY doc_id, frame_idx
    """),
    // expectation suite: one violation counter per check, unioned; the
    // referential checks are anti-join counts
    Query("dq_checks", (s, d) => DataQuality.dqChecks(s, d), """
      WITH checks AS (
        SELECT 'orders' AS table_name, 'o_totalprice_positive' AS check_name,
               CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders', 'o_orderdate_not_null',
               CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orders', 'o_orderkey_unique',
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem', 'l_discount_in_unit_range',
               CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'l_quantity_positive',
               CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'customer', 'c_custkey_unique',
               CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'documents', 'text_not_empty',
               CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'documents', 'n_chars_matches_text',
               CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'orders', 'o_custkey_fk_customer',
               CAST(count(*) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
        UNION ALL
        SELECT 'lineitem', 'l_orderkey_fk_orders',
               CAST(count(*) AS BIGINT)
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL)
      SELECT table_name, check_name, n_violations,
             CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
      FROM checks ORDER BY table_name, check_name
    """),
    // gated promotion replay: both batches' rule counts re-derived in
    // SQL; `promoted` = every rule clean AND batch non-empty;
    // rows_landed = the batch total iff promoted (the Spark side reads
    // this back from the bronze dir it actually wrote)
    Query("dq_gated_promotion", (s, d) => DataQuality.dqGatedPromotion(s, d), s"""
      WITH cb AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      tb AS (SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
               o_totalprice FROM orders),
      cagg AS (SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS rng,
        CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS uq
        FROM cb),
      corph AS (SELECT CAST(count(*) AS BIGINT) AS orph
        FROM cb LEFT JOIN customer ON cb.o_custkey = customer.c_custkey
        WHERE customer.c_custkey IS NULL),
      tagg AS (SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS rng,
        CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS uq
        FROM tb),
      torph AS (SELECT CAST(count(*) AS BIGINT) AS orph
        FROM tb LEFT JOIN customer ON tb.o_custkey = customer.c_custkey
        WHERE customer.c_custkey IS NULL),
      rep AS (
        SELECT 'clean' AS batch, r.rule, cagg.total AS n_rows,
               CASE r.rule WHEN 'not_null_o_custkey' THEN nn
                           WHEN 'range_o_totalprice' THEN rng
                           WHEN 'unique_o_orderkey' THEN uq
                           ELSE corph.orph END AS n_violations
        FROM cagg, corph,
          (VALUES ('not_null_o_custkey'), ('range_o_totalprice'),
                  ('unique_o_orderkey'), ('fk_o_custkey_customer')) r(rule)
        UNION ALL
        SELECT 'tainted', r.rule, tagg.total,
               CASE r.rule WHEN 'not_null_o_custkey' THEN nn
                           WHEN 'range_o_totalprice' THEN rng
                           WHEN 'unique_o_orderkey' THEN uq
                           ELSE torph.orph END
        FROM tagg, torph,
          (VALUES ('not_null_o_custkey'), ('range_o_totalprice'),
                  ('unique_o_orderkey'), ('fk_o_custkey_customer')) r(rule)),
      ${gateFin("")}
      SELECT batch, rule, n_rows, n_violations, passed, promoted,
             CASE WHEN promoted THEN n_rows ELSE CAST(0 AS BIGINT) END AS rows_landed
      FROM fin ORDER BY batch, rule
    """),
    // gated SCD2 merge replay, ACCEPT path: rule counts re-derived in
    // SQL (ambiguity = keys with >1 distinct attr-hash in the batch,
    // blast radius = would-expire count iff over 50% of current
    // versions); versions/current_on_disk = the post-run dimension
    // state — the Spark side reads these back from the parquet dim it
    // actually wrote. The REJECT path is its own query below (round-9
    // brief #2: one query per merge cycle).
    Query("scd2_gated", (s, d) => Scd2Queries.gated(s, d), scd2GatedSql("clean", "c", """
        SELECT part_key, p_name, p_brand, p_type, p_size,
               price_cents + 100 AS price_cents
        FROM base WHERE part_key % 7 = 0
        UNION ALL
        SELECT part_key + 1000000, p_name || '_v2', p_brand, p_type, p_size, price_cents
        FROM base WHERE part_key % 50 = 0""")),
    // gated SCD2 merge replay, REJECT path: the fat-fingered full reload
    // trips ambiguity + blast radius; promoted is false by construction
    // and the dimension state equals v1 (n base rows, all current)
    Query("scd2_gate_reject", (s, d) => Scd2Queries.gateReject(s, d), scd2GatedSql("tainted", "t", """
        SELECT part_key, p_name, p_brand, p_type, p_size,
               price_cents + 1 AS price_cents FROM base
        UNION ALL
        SELECT part_key, p_name, p_brand, p_type, p_size,
               price_cents + 999 FROM base WHERE part_key = 1""")),
    // deterministic epoch shuffle: shard/position are pure functions of
    // h64(doc_id:epoch) — both engines derive identical permutations
    Query("epoch_shards", (s, d) => TextAnalysis.epochShards(s, d), """
      WITH e AS (
        SELECT doc_id, CAST(u AS INT) AS epoch,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(u AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM documents, unnest(range(0, 3)) AS t(u))
      SELECT doc_id, epoch, CAST(h % 8 AS INT) AS shard,
             CAST(row_number() OVER (PARTITION BY epoch, h % 8 ORDER BY h, doc_id) AS INT) AS position
      FROM e ORDER BY epoch, shard, position
    """),
    // resize metadata: multiply-before-divide integer arithmetic matches
    // Spark's Int truncation for positive operands
    Query("media_resize", (s, d) => Multimodal.mediaResize(s, d), """
      WITH m AS (
        SELECT doc_id,
               CAST(64 + (('0x' || substr(md5(text), 1, 15))::BIGINT % 512) AS INT) AS width,
               CAST(64 + ((('0x' || substr(md5(text), 1, 15))::BIGINT >> 9) % 512) AS INT) AS height
        FROM documents)
      SELECT doc_id, width, height,
             CAST(CASE WHEN greatest(width, height) <= 128 THEN width
                       ELSE (width * 128) // greatest(width, height) END AS INT) AS resized_w,
             CAST(CASE WHEN greatest(width, height) <= 128 THEN height
                       ELSE (height * 128) // greatest(width, height) END AS INT) AS resized_h
      FROM m ORDER BY doc_id
    """),
    // content-addressed dedup: md5 over the payload bytes = md5 over the
    // text (same bytes, ASCII fixture)
    Query("media_dedup", (s, d) => Multimodal.mediaDedup(s, d), """
      WITH h AS (
        SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               md5(text) AS h
        FROM documents)
      SELECT media_type, count(*) AS n_files,
             CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
             CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_files,
             floor(((count(*) - count(DISTINCT h)) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS dup_ratio
      FROM h GROUP BY 1 ORDER BY 1
    """),
    // stream-packed decode batches off the per-type exclusive running sum
    Query("media_batches", (s, d) => Multimodal.mediaBatches(s, d), """
      WITH b AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents),
      c AS (
        SELECT *, sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM b)
      SELECT doc_id, media_type, n_bytes,
             CAST(floor((cum - n_bytes) / 16384.0) AS BIGINT) AS batch_id,
             CAST(cum - n_bytes - CAST(floor((cum - n_bytes) / 16384.0) AS BIGINT) * 16384 AS BIGINT) AS offset_in_batch
      FROM c ORDER BY doc_id
    """),
    // composed SQL: Matryoshka truncation eval — the full-dimension
    // brute-force oracle as ground truth, the same search over the
    // 16-dim embedding prefix as the candidate, recall joined on the
    // (query, neighbor) pair like ann_recall
    Query("matryoshka_recall", (s, d) => Similarity.matryoshkaRecall(s, d), s"""
      WITH bf AS ($knnBruteForceSql),
      tp AS (
        SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v,
               list_reduce(list_transform(range(1, 17), i ->
                 (embedding::DOUBLE[])[i] * (embedding::DOUBLE[])[i]), (x, y) -> x + y) AS norm2
        FROM embeddings),
      tq AS (SELECT vec_id AS query_id, v AS va, norm2 AS na2 FROM tp WHERE vec_id % 100 = 0),
      ts AS (
        SELECT tq.query_id, tp.vec_id AS neighbor_id,
               floor((list_reduce(list_transform(range(1, len(tq.va) + 1), i -> tq.va[i] * tp.v[i]),
                 (x, y) -> x + y) / sqrt(tq.na2 * tp.norm2)) * 10000 + 0.5) / 10000 AS cosine
        FROM tq JOIN tp ON tp.vec_id <> tq.query_id),
      tr AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM ts)
        WHERE rank <= 5)
      SELECT bf.query_id,
             CAST(count(tr.neighbor_id) AS BIGINT) AS n_hit,
             CAST(5 AS BIGINT) AS k,
             floor((count(tr.neighbor_id) / 5.0) * 10000 + 0.5) / 10000 AS recall
      FROM bf LEFT JOIN tr
        ON bf.query_id = tr.query_id AND bf.neighbor_id = tr.neighbor_id
      GROUP BY bf.query_id
      ORDER BY bf.query_id
    """),
    // generated SQL: IVF list-balance audit over knn_ivf's fit
    // (identical fit ⟹ identical lists), then a |lists|-row rollup
    Query("ivf_balance", (s, d) => Similarity.ivfBalance(s, d),
      ivfPrefix + Similarity.nearestCidSql("assigned", "vec_id, cid") + """,
      tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM assigned)
      SELECT cid, count(*) AS n_vecs,
             floor((count(*) / t.n) * 10000 + 0.5) / 10000 AS share,
             floor((count(*) * 10.0 / t.n) * 10000 + 0.5) / 10000 AS load_factor
      FROM assigned CROSS JOIN tot t GROUP BY cid, t.n ORDER BY cid
    """),
    // generated SQL: the dedup threshold curve replays the MinHash
    // pipeline restricted to band 0 (the bandSubset sampling lever,
    // exactly as sketch_agreement) at verify threshold 0.5, then
    // buckets exact Jaccard by tenths
    Query("dedup_threshold_curve", (s, d) => Dedup.dedupThresholdCurve(s, d), s"""
      WITH ${minhashTokens("doc_id, toks")},
      sig AS (
        SELECT doc_id, toks,
               ${minhashSig(16, "h")}
        FROM th),
      $band0Cand,
      hsets AS (SELECT doc_id, list_distinct(h) AS hs FROM th),
      pairs AS (${jaccardInter("doc_a", "doc_b", "hsets", "doc_id")}),
      scored AS (
        SELECT doc_a, doc_b,
               floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS jaccard
        FROM pairs
        WHERE inter / (na + nb - inter) >= 0.5),
      bkt AS (
        SELECT floor((least(floor(jaccard * 10) / 10, 0.9)) * 10000 + 0.5) / 10000 AS threshold_lo,
               doc_a, doc_b
        FROM scored),
      cnt AS (SELECT threshold_lo, count(*) AS n_pairs FROM bkt GROUP BY 1),
      dcs AS (
        SELECT threshold_lo, count(DISTINCT d) AS n_docs
        FROM (SELECT threshold_lo, unnest([doc_a, doc_b]) AS d FROM bkt)
        GROUP BY 1)
      SELECT c.threshold_lo,
             CAST(c.n_pairs AS BIGINT) AS n_pairs,
             CAST(d.n_docs AS BIGINT) AS n_docs,
             CAST(sum(c.n_pairs) OVER (ORDER BY c.threshold_lo DESC) AS BIGINT) AS cum_pairs
      FROM cnt c JOIN dcs d USING (threshold_lo)
      ORDER BY c.threshold_lo
    """),
    // transitive closure of the embedding-cosine pair graph: the same
    // recursive-CTE min-label components as dedup_clusters, seeded with
    // EVERY vec_id so singletons keep themselves
    Query("embedding_clusters", (s, d) => Dedup.embeddingClusters(s, d), s"""
      WITH RECURSIVE ${bucketedCorpus("INT")},
      pr AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM p a JOIN p b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                          (x, y) -> x + y) / sqrt(a.norm2 * b.norm2) >= 0.2),
      edges AS (SELECT id_a AS a, id_b AS b FROM pr
                UNION ALL SELECT id_b, id_a FROM pr),
      reach(src, node) AS (
        SELECT vec_id, vec_id FROM p
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      comp AS (SELECT src AS vec_id, min(node) AS cluster_id FROM reach GROUP BY 1),
      sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
      SELECT c.vec_id, c.cluster_id, s.cluster_size
      FROM comp c JOIN sizes s USING (cluster_id)
      ORDER BY c.vec_id
    """),
  )

  /** Name → Spark plan, a view of [[table]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map(q => q.name -> q.run).toMap

  /** Name → DuckDB oracle SQL, a view of [[table]]. */
  lazy val oracleSql: Map[String, String] = table.map(q => q.name -> q.oracle).toMap

  // ---- named oracle fragments, shared by composing, never by cutting ----

  // the latest shipment line per part: the window form of max_by
  private val latestShipSql = """
      SELECT l_partkey AS part_key, l_orderkey AS order_key,
             l_linenumber AS line_number,
             CAST(strftime(l_shipdate, '%Y%m%d') AS INT) AS ship_date_key,
             l_quantity AS quantity
      FROM lineitem
      QUALIFY row_number() OVER (
        PARTITION BY l_partkey
        ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) = 1
      ORDER BY part_key
    """

  // the single-copy monthly order aggregate a reload must converge to
  private val monthlyOrdersSql = """
      SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS ingestion_month,
             count(*) AS n_orders,
             floor((CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS total_value
      FROM orders
      GROUP BY 1
      ORDER BY 1
    """

  // the SCD2 dim's change hash over the part attributes
  private val scd2AttrHash = """md5(concat_ws('|', p_name, p_brand, p_type,
                   CAST(p_size AS VARCHAR), CAST(price_cents AS VARCHAR)))"""

  // `base`: every part with its price in cents
  private val scd2Base = """base AS (
        SELECT p_partkey AS part_key, p_name, p_brand, p_type, p_size,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM part)"""

  // the SCD2 merge of one batch into the day-0 dim: `base`, `dim0` (the
  // hashed day-0 dim), `src` (every 7th part repriced, every 50th
  // renamed under a new key), `srch` (hashed) and `changed` (the batch
  // rows that are new or whose hash moved)
  private val scd2Changed = s"""$scd2Base,
      dim0 AS (
        SELECT row_number() OVER (ORDER BY part_key) AS surrogate_key, base.*,
               $scd2AttrHash AS attr_hash
        FROM base),
      src AS (
        SELECT part_key, p_name, p_brand, p_type, p_size,
               CASE WHEN part_key % 7 = 0 THEN price_cents + 100 ELSE price_cents END AS price_cents
        FROM base
        UNION ALL
        SELECT part_key + 1000000, p_name || '_v2', p_brand, p_type, p_size, price_cents
        FROM base WHERE part_key % 50 = 0),
      srch AS (
        SELECT src.*, $scd2AttrHash AS attr_hash
        FROM src),
      changed AS (
        SELECT s.* FROM srch s LEFT JOIN dim0 d USING (part_key)
        WHERE d.part_key IS NULL OR d.attr_hash <> s.attr_hash)"""

  // the merged dim's full rows over `scd2Changed`: `old_rows` (the day-0
  // versions, expired on 2024-06-01 where changed) and `new_rows`
  private val scd2Rows = """old_rows AS (
        SELECT d.part_key, d.p_name, d.p_brand, d.p_type, d.p_size,
               d.price_cents, d.attr_hash, d.surrogate_key,
               DATE '2024-01-01' AS effective_date,
               CASE WHEN c.part_key IS NOT NULL THEN DATE '2024-06-01'
                    ELSE CAST(NULL AS DATE) END AS expiry_date,
               c.part_key IS NULL AS is_current
        FROM dim0 d LEFT JOIN (SELECT DISTINCT part_key FROM changed) c USING (part_key)),
      new_rows AS (
        SELECT part_key, p_name, p_brand, p_type, p_size, price_cents, attr_hash,
               (SELECT count(*) FROM dim0) + row_number() OVER (ORDER BY part_key) AS surrogate_key,
               DATE '2024-06-01' AS effective_date,
               CAST(NULL AS DATE) AS expiry_date,
               TRUE AS is_current
        FROM changed)"""

  // the gate verdict `fin` over `rep` (batch, rule, n_rows,
  // n_violations, then `extra`): a batch is promoted iff every rule is
  // clean and it has rows
  private def gateFin(extra: String): String = s"""fin AS (
        SELECT batch, rule, n_rows, n_violations, n_violations = 0 AS passed,
               (min(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY batch)) = 1 AND n_rows > 0 AS promoted$extra
        FROM rep)"""

  /** The gated SCD2 merge of one batch replayed: `rows` is the batch's
    * SELECT over `base`; the rules count null names, ambiguous keys
    * (more than one hash in the batch) and a blast radius (more than
    * 50% of current versions would expire); the result is the verdict
    * and the dim's row counts after the run. `p` prefixes the batch's
    * CTE names (`c` clean, `t` tainted). */
  private def scd2GatedSql(batch: String, p: String, rows: String): String = s"""
      WITH $scd2Base,
      bh AS (SELECT part_key, $scd2AttrHash AS h
             FROM base),
      ${p}b AS ($rows),
      ${p}bh AS (SELECT part_key, p_name, $scd2AttrHash AS h
              FROM ${p}b),
      np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
      ${p}s AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM ${p}b) AS total,
        (SELECT CAST(sum(CASE WHEN p_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM ${p}b) AS nn,
        (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT part_key FROM ${p}bh GROUP BY 1 HAVING count(DISTINCT h) > 1)) AS amb,
        (SELECT CAST(count(DISTINCT $p.part_key) AS BIGINT)
         FROM ${p}bh $p JOIN bh USING (part_key) WHERE $p.h <> bh.h) AS chg,
        (SELECT CAST(count(DISTINCT $p.part_key) AS BIGINT)
         FROM ${p}bh $p LEFT JOIN bh USING (part_key) WHERE bh.h IS NULL) AS newk),
      rep AS (
        SELECT '$batch' AS batch, r.rule, ${p}s.total AS n_rows,
               CASE r.rule WHEN 'not_null_p_name' THEN ${p}s.nn
                           WHEN 'ambiguous_latest' THEN ${p}s.amb
                           ELSE CASE WHEN ${p}s.chg * 100 > np.n * 50 THEN ${p}s.chg ELSE CAST(0 AS BIGINT) END
               END AS n_violations,
               ${p}s.chg AS chg, ${p}s.newk AS newk
        FROM ${p}s, np,
          (VALUES ('not_null_p_name'), ('ambiguous_latest'),
                  ('expire_blast_radius')) r(rule)),
      ${gateFin(", chg, newk")}
      SELECT batch, rule, n_rows, n_violations, passed, promoted,
             CASE WHEN promoted THEN np.n + chg + newk ELSE np.n END AS versions_on_disk,
             CASE WHEN promoted THEN np.n + newk ELSE np.n END AS current_on_disk
      FROM fin, np ORDER BY batch, rule
    """

  // gap-islands over `events`: `e`, `flagged` (a new session opens where
  // the inter-event gap >= 30 minutes) and `islands` (session id `sid`)
  private val sessionIslands = """e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
      flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM e),
      islands AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)"""

  // MinHash `docs` (each document's distinct tokens) and `th` (their
  // hashes `h` mod P); `cols` carries the tokens along or not
  private def minhashTokens(cols: String): String = s"""docs AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
      th AS (
        SELECT $cols,
               list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) AS h
        FROM docs)"""

  // the MinHash signature: `n` min-hashes over the hash list `hs`, hash
  // i being ((2i+1)·x + 7i+3) mod P
  private def minhashSig(n: Int, hs: String): String = s"""list_transform(range(0, $n), i ->
                 list_min(list_transform($hs, x -> ((2*i+1) * x + 7*i+3) % 1000000007))) AS sig"""

  // `bands`: the 16-hash `sig` cut into 4 bands of 4 keys
  private val minhashBands = """bands AS (
        SELECT doc_id, bs.b AS band,
               sig[bs.b*4+1] AS k1, sig[bs.b*4+2] AS k2,
               sig[bs.b*4+3] AS k3, sig[bs.b*4+4] AS k4
        FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b) bs)"""

  // `cand`: the distinct doc pairs sharing a bucket of the bands `rel`
  private def bandCand(rel: String): String = s"""cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM $rel a JOIN $rel b
          ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.doc_id < b.doc_id)"""

  // band 0 alone (Dedup's bandSubset sample): `bands`, one row per doc,
  // and `cand`, the pairs sharing its bucket
  private val band0Cand = """bands AS (
        SELECT doc_id, sig[1] AS k1, sig[2] AS k2, sig[3] AS k3, sig[4] AS k4
        FROM sig),
      cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.k1 = b.k1 AND a.k2 = b.k2
         AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.doc_id < b.doc_id)"""

  // the exact verify of `cand`'s pairs (`a`, `b`) on the hash sets `hs`
  // of `sets`, keyed by `key`: their overlap `inter` and sizes `na`, `nb`
  private def jaccardInter(a: String, b: String, sets: String, key: String): String = s"""
        SELECT $a, $b,
               len(list_intersect(ta.hs, tb.hs)) AS inter,
               len(ta.hs) AS na, len(tb.hs) AS nb
        FROM cand
          JOIN $sets ta ON cand.$a = ta.$key
          JOIN $sets tb ON cand.$b = tb.$key"""

  /** MinHash LSH pairs at Jaccard >= 0.9 (16 hashes, 4 bands of 4);
    * `cap` drops band buckets holding more than it docs before the
    * self-join, so it cuts candidates only and the verify stays exact. */
  private def minhashPairsSql(cap: Option[Int]): String = {
    val (capped, from) = cap match {
      case None => ("", "bands")
      case Some(n) => (s"""capped AS (
        SELECT doc_id, band, k1, k2, k3, k4
        FROM (SELECT *, count(*) OVER (PARTITION BY band, k1, k2, k3, k4) AS bsz
              FROM bands)
        WHERE bsz <= $n),
      """, "capped")
    }
    s"""
      WITH ${minhashTokens("doc_id, toks")},
      sig AS (
        SELECT doc_id, toks,
               ${minhashSig(16, "h")}
        FROM th),
      $minhashBands,
      $capped${bandCand(from)},
      hsets AS (SELECT doc_id, list_distinct(h) AS hs FROM th),
      pairs AS (${jaccardInter("doc_a", "doc_b", "hsets", "doc_id")})
      SELECT doc_a, doc_b,
             floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS jaccard
      FROM pairs
      WHERE inter / (na + nb - inter) >= 0.9
      ORDER BY doc_a, doc_b
    """
  }

  // `t` (tokens) and `sh` (doc_id, `s`: the distinct 3-gram shingle
  // hashes, ascending when `sorted`)
  private def shingleSets(sorted: Boolean): String = {
    val set = """list_distinct(list_transform(
                 list_distinct(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, len(toks) - 1), i ->
                          toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   END),
                 s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))"""
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               ${if (sorted) s"list_sort($set)" else set} AS s
        FROM t)"""
  }

  // `inv` (one row per doc and shingle of `sh`) and `shared` (the doc
  // pairs with shingle counts `na`, `nb` and their overlap `inter`)
  private val sharedShingles = """inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS sh FROM sh),
      shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
               count(*) AS inter
        FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)"""

  // each 3-gram's hash over the token list `toks`, in order; [] under
  // 3 tokens
  private val shingleHashList = """CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                 ELSE list_transform(range(1, len(toks) - 1), i ->
                   ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT) END"""

  // `t`, `sh` (one row per doc and distinct 3-gram hash `g`) and `bench`
  // (the hashes of the doc_id % 97 = 0 benchmark stand-in)
  private val benchShingles = s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct($shingleHashList)) AS g
        FROM t),
      bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0)"""

  // `chunks`: each doc's whole 8-token chunks over `toks` (t, n_chunks)
  private val spanChunks = """chunks AS (
        SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_no, t
        FROM toks WHERE n_chunks >= 1)"""

  // the text-quality features of `rel`'s text, next to its `cols`
  private def qualityFeatures(cols: String, rel: String): String = s"""SELECT $cols,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','to','in'))) AS INT) AS s_en,
          CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits,
          CAST(length(text) AS INT) AS len_text
        FROM $rel"""

  // the quality score over those features, money-rounded
  private val qualityScore = """floor((least(1.0, n_tokens / 50.0) * (1.0 - n_digits / len_text) *
                    (0.5 + 0.5 * least(1.0, s_en / n_tokens * 5))) * 10000 + 0.5) / 10000 AS quality_score"""

  // the co-purchase graph's undirected edges: `items` (order, part) and
  // `und` (part pairs a < b sharing an order)
  private val coPurchaseUnd = """items AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
      und AS (
        SELECT DISTINCT a.part AS a, b.part AS b
        FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part)"""

  // md5 halves of each document's distinct tokens
  private val tokenHalves = """th AS (
        SELECT doc_id,
               list_transform(list_distinct(string_split(text, ' ')),
                              t -> struct_pack(lo := ('0x' || substr(md5(t), 1, 8))::BIGINT,
                                               hi := ('0x' || substr(md5(t), 9, 8))::BIGINT)) AS h
        FROM documents)"""

  // 64-bit fingerprint over `th`: bits 0-31 vote on md5[1..8], bits
  // 32-63 on md5[9..16]; bit 63 is spelled as the Long.MIN literal
  // because DuckDB's `1 << 63` overflows where Spark's shiftleft wraps
  private val simhashSelect = """SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 64), j ->
                 CASE WHEN list_sum(list_transform(h, x ->
                        CASE WHEN ((CASE WHEN j < 32 THEN x.lo ELSE x.hi END) >> (j % 32)) & 1 = 1
                             THEN 1 ELSE -1 END)) > 0
                      THEN (CASE WHEN j = 63 THEN (-9223372036854775807 - 1)
                            ELSE (1::BIGINT << j) END)
                      ELSE 0::BIGINT END)) AS BIGINT) AS simhash
        FROM th"""

  // `th`, then `sh` (doc_id, simhash)
  private val simhashSigs = s"""$tokenHalves,
      sh AS (
        $simhashSelect)"""

  private val simhashPairsSql = s"""
      WITH $simhashSigs
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY doc_a, doc_b
    """

  // recursive connected components over the Hamming-≤3 simhash pairs,
  // ending in `comp` (doc_id → min member as cluster_id) and `sizes`
  private val ccChainSql = s"""
      WITH RECURSIVE $simhashSigs,
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(src, node) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY 1),
      sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)"""

  private val dedupClustersSql = ccChainSql + """
      SELECT c.doc_id, c.cluster_id, s.cluster_size
      FROM comp c JOIN sizes s USING (cluster_id)
      ORDER BY c.doc_id
    """

  // an embedding's squared norm
  private val embeddingNorm2 = """list_reduce(list_transform(range(1, len(embedding) + 1), i ->
                 (embedding::DOUBLE[])[i] * (embedding::DOUBLE[])[i]), (x, y) -> x + y) AS norm2"""

  // the embeddings corpus `p`: vector and squared norm
  private val embeddingCorpus = s"""p AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               $embeddingNorm2
        FROM embeddings)"""

  // `p` with its hyperplane bucket: the signs of the first 8
  // coordinates as bits, cast to `cast`
  private def bucketedCorpus(cast: String): String = s"""p AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               CAST(list_sum(list_transform(range(0, 8), j ->
                 CASE WHEN (embedding::DOUBLE[])[j+1] > 0 THEN (1 << j) ELSE 0 END)) AS $cast) AS bucket,
               $embeddingNorm2
        FROM embeddings)"""

  // the 5 nearest of `s` (query_id, neighbor_id, cosine) per query
  private val top5Neighbors = """
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
             neighbor_id, cosine
      FROM s
      QUALIFY rank <= 5
      ORDER BY query_id, rank
    """

  private val knnBruteForceSql = s"""
      WITH $embeddingCorpus,
      q AS (SELECT vec_id AS query_id, v AS va, norm2 AS na2 FROM p WHERE vec_id % 100 = 0),
      s AS (
        SELECT q.query_id, p.vec_id AS neighbor_id,
               floor((list_reduce(list_transform(range(1, len(q.va) + 1), i -> q.va[i] * p.v[i]),
                 (x, y) -> x + y) / sqrt(q.na2 * p.norm2)) * 10000 + 0.5) / 10000 AS cosine
        FROM q JOIN p ON p.vec_id <> q.query_id)""" + top5Neighbors

  /** IVF's LEARNED coarse quantizer over corpus relation `rel` (`p`, or
    * the 75% base slice `pb`): Lloyd's k-means (k=10, 3 iterations)
    * unrolled as CTEs — deterministic seed = smallest h64(vec_id),
    * money-rounded DECIMAL-accumulated centroid means, so DuckDB replays
    * the exact fit graft.sim.Similarity.kmeansFit runs. Ends in `centn`
    * (cid, centroid, cnorm2) plus a trailing comma for the consumer's
    * next CTE. */
  private def ivfFit(rel: String): String =
    s"""${Similarity.lloydSeedSql("cent0", "v", rel, "10")},
      ${Similarity.lloydRoundsSql(rel, "", "cent", 3)},
      centn AS (
        SELECT cid, centroid,
               list_reduce(list_transform(range(1, len(centroid) + 1), j -> centroid[j] * centroid[j]), (x, y) -> x + y) AS cnorm2
        FROM cent3),
      """

  /** The corpus `p` and the quantizer fitted on all of it. */
  private val ivfPrefix = s"""
      WITH $embeddingCorpus,
      ${ivfFit("p")}"""

  /** The corpus `p` and the quantizer fitted on its 75% base slice `pb`. */
  private val ivfBasePrefix = s"""
      WITH $embeddingCorpus,
      pb AS MATERIALIZED (SELECT vec_id, v, norm2 FROM p WHERE vec_id % 4 <> 3),
      ${ivfFit("pb")}"""

  private val knnIvfSql = ivfPrefix + s"""q AS (SELECT vec_id AS query_id, v AS va, norm2 AS na2 FROM p WHERE vec_id % 100 = 0),
      probes AS (
        SELECT query_id, va, na2, cid
        FROM (
          SELECT q.query_id, q.va, q.na2, c.cid,
                 row_number() OVER (PARTITION BY q.query_id ORDER BY
                   floor((list_reduce(list_transform(range(1, len(q.va) + 1), j -> q.va[j] * c.centroid[j]), (x, y) -> x + y)
                     / sqrt(q.na2 * c.cnorm2)) * 10000 + 0.5) / 10000 DESC, c.cid) AS pr
          FROM q CROSS JOIN centn c)
        WHERE pr <= 2),
      ${Similarity.centroidScoresSql(extra = ", p.v, p.norm2")},
      corp AS (SELECT vec_id, v, norm2, cid FROM bf QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1),
      s AS (
        SELECT pr.query_id, corp.vec_id AS neighbor_id,
               floor((list_reduce(list_transform(range(1, len(pr.va) + 1), j -> pr.va[j] * corp.v[j]), (x, y) -> x + y)
                 / sqrt(pr.na2 * corp.norm2)) * 10000 + 0.5) / 10000 AS cosine
        FROM probes pr JOIN corp ON corp.cid = pr.cid AND corp.vec_id <> pr.query_id)""" + top5Neighbors

  private val ivfpqSql = ivfPrefix + Similarity.ivfpqServeSql()

  /** SemDeDup over knn_ivf's fit; `cap` sub-buckets clusters larger than
    * it by h64(vec_id) mod ceil(size/cap) and pairs only within
    * (cid, sub-bucket). */
  private def semanticDedupSql(cap: Option[Int]): String = {
    val (buckets, from, sameBucket) = cap match {
      case None => ("", "scored", "")
      case Some(n) => (s"""sz AS (SELECT cid, count(*) AS csize FROM scored GROUP BY cid),
      sub AS (
        SELECT s.vec_id, s.v, s.norm2, s.cid, s.ccos,
               (('0x' || substr(md5(CAST(s.vec_id AS VARCHAR)), 1, 15))::BIGINT)
                 % CAST(ceil(CAST(z.csize AS DOUBLE) / $n) AS BIGINT) AS sb
        FROM scored s JOIN sz z USING (cid)),
      """, "sub", " AND a.sb = b.sb")
    }
    ivfPrefix + Similarity.nearestCidSql("scored", "vec_id, v, norm2, cid, cos AS ccos",
      extra = ", p.v, p.norm2") + s""",
      ${buckets}cand AS (
        SELECT a.cid, a.vec_id AS ia, b.vec_id AS ib, a.ccos AS ca, b.ccos AS cb,
               floor((list_reduce(list_transform(range(1, len(a.v) + 1), j -> a.v[j] * b.v[j]), (x, y) -> x + y)
                 / sqrt(a.norm2 * b.norm2)) * 10000 + 0.5) / 10000 AS cosine
        FROM $from a JOIN $from b ON a.cid = b.cid$sameBucket AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT cid,
               CASE WHEN ca > cb THEN ia WHEN ca < cb THEN ib ELSE least(ia, ib) END AS vec_keep,
               CASE WHEN ca > cb THEN ib WHEN ca < cb THEN ia ELSE greatest(ia, ib) END AS vec_drop,
               cosine
        FROM cand WHERE cosine >= 0.35)
      SELECT vec_drop, vec_keep, cid, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_drop ORDER BY cosine DESC, vec_keep) AS rn
        FROM pairs)
      WHERE rn = 1
      ORDER BY vec_drop
    """
  }

  // the part co-purchase graph: `e` (src, dst) over distinct parts
  // sharing an order, MATERIALIZED because every round re-reads it
  private val coPurchaseEdges = """items AS (
        SELECT DISTINCT l_orderkey AS okey, CAST(l_partkey AS BIGINT) AS part
        FROM lineitem),
      e AS MATERIALIZED (
        SELECT DISTINCT a.part AS src, b.part AS dst
        FROM items a JOIN items b USING (okey)
        WHERE a.part <> b.part)"""

  // the add-one bigram LM chain, ending in `doc` (doc_id, n_bigrams,
  // bits_per_token): per-term money rounding before the
  // decimal-accumulated sum
  private val lmChainSql = """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      docbg AS (
        SELECT doc_id, g, count(*) AS k FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(toks)), i ->
            toks[i] || ' ' || toks[i+1])) AS g
          FROM t) GROUP BY 1, 2),
      model AS (SELECT g, sum(k) AS c12 FROM docbg GROUP BY 1),
      prefix AS (
        SELECT string_split(g, ' ')[1] AS w1, sum(c12) AS c1
        FROM model GROUP BY 1),
      vocab AS (
        SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
      w AS (
        SELECT d.doc_id, d.k,
               floor(d.k * log2(CAST(m.c12 + 1 AS DOUBLE)
                                / (CAST(p.c1 AS DOUBLE) + vocab.v)) * 10000 + 0.5)
                 / 10000 AS wv
        FROM docbg d
        JOIN model m USING (g)
        JOIN prefix p ON p.w1 = string_split(d.g, ' ')[1]
        CROSS JOIN vocab),
      doc AS (
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
               floor(-CAST(sum(CAST(wv AS DECIMAL(38,8))) AS DOUBLE)
                     / CAST(sum(k) AS DOUBLE) * 10000 + 0.5) / 10000 AS bits_per_token
        FROM w GROUP BY 1)"""

  private val lmPerplexitySql = lmChainSql + """
      SELECT doc_id, n_bigrams, bits_per_token,
             floor(pow(2.0, bits_per_token) * 10000 + 0.5) / 10000 AS ppl
      FROM doc ORDER BY doc_id
    """

  private val langIdSql = """
      SELECT doc_id, actual_lang,
             CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
                  WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
                  WHEN s_zh > 0 THEN 'zh'
                  ELSE 'und' END AS pred_lang,
             s_de, s_en, s_es, s_fr, s_zh
      FROM (
        SELECT doc_id, lang AS actual_lang,
          CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','ist','nicht'))) AS INT) AS s_de,
          CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','to','in'))) AS INT) AS s_en,
          CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','que','y'))) AS INT) AS s_es,
          CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','les','des','une','est'))) AS INT) AS s_fr,
          CAST(len(list_filter(string_split(text,' '), t -> t IN ('的','是','不','我','了'))) AS INT) AS s_zh
        FROM documents)
      ORDER BY doc_id
    """

  private val textQualitySql = s"""
      SELECT doc_id, n_tokens,
             floor(((n_chars - (n_tokens - 1)) / n_tokens) * 10000 + 0.5) / 10000 AS avg_token_len,
             floor((s_en / n_tokens) * 10000 + 0.5) / 10000 AS stopword_ratio,
             floor((n_digits / len_text) * 10000 + 0.5) / 10000 AS digit_ratio,
             $qualityScore
      FROM (
        ${qualityFeatures("doc_id, n_chars", "documents")})
      ORDER BY doc_id
    """

  private val lexicalDiversitySql = """
      WITH tf AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY 1, 2),
      w AS (
        SELECT doc_id, tf,
               floor(tf * log2(CAST(tf AS DOUBLE)) * 10000 + 0.5) / 10000 AS wv
        FROM tf)
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             floor(CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) * 10000 + 0.5) / 10000 AS type_token_ratio,
             floor((log2(CAST(sum(tf) AS DOUBLE))
                    - CAST(sum(CAST(wv AS DECIMAL(38,8))) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)) * 10000 + 0.5) / 10000 AS entropy_bits
      FROM w GROUP BY 1 ORDER BY 1
    """

  private val corpusMixtureSql = """
      WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
      s AS (SELECT *, floor(sqrt(tokens) * 10000 + 0.5) / 10000 AS sq FROM per),
      tot AS (SELECT CAST(sum(CAST(sq AS DECIMAL(38,8))) AS DOUBLE) AS tot_sq,
                     sum(tokens) AS tot_tokens FROM s)
      SELECT source, n_docs, tokens,
             floor((tokens / tot_tokens) * 10000 + 0.5) / 10000 AS raw_share,
             floor((sq / tot_sq) * 10000 + 0.5) / 10000 AS weight,
             floor(((floor((sq / tot_sq) * 10000 + 0.5) / 10000) /
                    (floor((tokens / tot_tokens) * 10000 + 0.5) / 10000)) * 10000 + 0.5) / 10000 AS boost
      FROM s, tot ORDER BY source
    """
}
