package graft

/** Driver-contract invariants: the things the correctness gate assumes
  * before it even runs a query. A drift here (a query without an oracle,
  * an oracle without a query, a non-executable entry) silently weakens
  * the gate, so it fails HERE first. */
class ContractSpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracle SQL without a query: ${(o -- q).toSeq.sorted}")
  }

  test("query names in the table are distinct") {
    // the Map views would silently keep only the last of two same-named
    // entries, dropping a query from the gate without a trace
    val names = SparkEntry.table.map(_.name)
    val dups = names.diff(names.distinct).distinct.sorted
    assert(dups.isEmpty, s"duplicated query names: $dups")
  }

  test("oracle SQL strings are non-empty and reference only fixture tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val generators = Set("dim_date") // built from a date range, no source table
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      val lower = sql.toLowerCase
      assert(generators(name) || tables.exists(lower.contains),
        s"$name: no fixture table referenced")
    }
  }

  test("flagship entry returns rows on the smallest fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query functions build lazily without running jobs (except documented eager sizers)") {
    // constructing a plan must not launch an unbounded Spark job; the
    // documented exceptions run bounded sizing/fit actions
    val eager = Set("knn_bruteforce", "knn_ivf", "dedup_clusters",
      "idempotent_reload", "sequence_packing",
      // Prefix two-pass scans run their pass-1 collect at construction
      "part_skyline", "pps_sample")
    SparkEntry.queries.filterNot(kv => eager(kv._1)).foreach { case (name, fn) =>
      val df = fn(spark, sf) // throws or hangs here = construction is eager
      assert(df.schema.fields.nonEmpty, s"$name: empty schema")
    }
  }
}
