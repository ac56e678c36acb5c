package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Scd2

/** Driver-verifiable SCD2 scenarios over the `part` fixture (stands in for
  * the reference's product dimension, `dags/product.py`). Double-typed
  * price is pre-encoded as integer cents so the change-hash is
  * engine-portable. */
object Scd2Queries {

  val cfg: Scd2.Config = Scd2.Config(
    businessKey = "part_key",
    trackedCols = Seq("p_name", "p_brand", "p_type", "p_size", "price_cents"))

  /** Conformed source projection (reference silver layer). */
  def partSource(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey").as("part_key"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("price_cents"))

  /** Initial SCD2 load as of 2024-01-01. */
  def initial(spark: SparkSession, dir: String): DataFrame =
    Scd2.initialLoad(partSource(spark, dir), cfg, "2024-01-01")
      .orderBy(col("surrogate_key"))

  /** Second load with deterministic mutations: every 7th part gets a price
    * bump (changed → expire + new version), every 50th part reappears
    * under a new business key (new → insert). */
  def secondSource(spark: SparkSession, dir: String): DataFrame = {
    val base = partSource(spark, dir)
    val mutated = base.withColumn("price_cents",
      when(col("part_key") % 7 === 0, col("price_cents") + 100)
        .otherwise(col("price_cents")))
    val fresh = base.filter(col("part_key") % 50 === 0)
      .withColumn("part_key", col("part_key") + 1000000)
      .withColumn("p_name", concat(col("p_name"), lit("_v2")))
    mutated.unionByName(fresh)
  }

  /** Full SCD2 merge result after the second load (as of 2024-06-01):
    * expired prior versions, surviving current rows, and appended new
    * versions with surrogate keys continuing from max(sk). */
  /** The post-merge dimension as a DERIVED RELATION: a pure,
    * deterministic function of `dir` (the oracle hash-matches it, so
    * the surrogate assignment is reproducible) consumed by FOUR query
    * surfaces (`scd2_upsert`, `scd2_snapshot`, `scd2_diff`,
    * `fact_dim_asof`) — and in production an SCD2 dimension IS a
    * persisted table the fact pipelines read, not a per-query re-merge.
    * Built once per JVM ([[graft.engine.Derived]]); longs/strings/dates
    * round-trip parquet exactly. */
  private[graft] def upsertStored(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Derived.cached(spark, "scd2_upsert_dim", dir) {
      Scd2.applyChanges(initial(spark, dir), secondSource(spark, dir), cfg,
        "2024-06-01")
    }

  def upsert(spark: SparkSession, dir: String): DataFrame =
    upsertStored(spark, dir).orderBy(col("surrogate_key"))

  /** Point-in-time read of the upserted dimension AFTER the second load
    * date — the time-travel lookup a fact join uses ([[Scd2.snapshotAsOf]]). */
  def snapshot(spark: SparkSession, dir: String): DataFrame =
    Scd2.snapshotAsOf(upsertStored(spark, dir), cfg, "2024-07-01")
      .orderBy(col("surrogate_key"))

  /** Change data feed between two points in time — Delta CDF semantics
    * reconstructed from SCD2 history: diff the snapshots current at
    * `2024-03-01` (pre-merge) and `2024-07-01` (post-merge), classify
    * each business key I/U/D by full-outer join on the key with the
    * attribute hash as the change detector. Emits ONLY changed keys
    * (unchanged rows — the overwhelming majority — never leave the
    * join). A snapshot carries at most one current version per key, so
    * the join is 1:1; at scale both sides shuffle once on the business
    * key. The D branch is real code but empty on this fixture — SCD2
    * expires, it never deletes. */
  def changes(spark: SparkSession, dir: String): DataFrame = {
    val dim = upsertStored(spark, dir)
    val a = Scd2.snapshotAsOf(dim, cfg, "2024-03-01").select(
      col("part_key"), col("price_cents").as("old_price_cents"),
      col(cfg.hashCol).as("old_hash"))
    val b = Scd2.snapshotAsOf(dim, cfg, "2024-07-01").select(
      col("part_key").as("part_key_b"), col("price_cents").as("new_price_cents"),
      col(cfg.hashCol).as("new_hash"))
    a.join(b, col("part_key") === col("part_key_b"), "full_outer")
      .filter(col("old_hash").isNull || col("new_hash").isNull ||
        col("old_hash") =!= col("new_hash"))
      .select(
        coalesce(col("part_key"), col("part_key_b")).as("part_key"),
        when(col("old_hash").isNull, lit("I"))
          .when(col("new_hash").isNull, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("old_price_cents"), col("new_price_cents"))
      .orderBy(col("part_key"))
  }

  /** Shared machinery of the gated-promotion proofs ([[gated]] /
    * [[gateReject]]): write a REAL v1 dimension to `scratchName`'s own
    * scratch root, gate ONE batch against it ([[Scd2.gateBatches]], one
    * aggregation job), merge + write v2 only on promote, then read the
    * landed state back FROM DISK — the row proves the merge actually
    * happened (or provably didn't), not just that a flag was computed.
    *
    * v1 is built with expression-only surrogate keys (the business key is
    * unique, so it IS a valid initial key assignment) — these proofs
    * target gate+merge; `scd2_initial` covers initialLoad's distributed
    * key assigner. coalesce: dim-sized relation, few files. Each query
    * owns its scratch root, so the reject proof and the promote proof
    * cannot contaminate each other even run concurrently. */
  private def gatedRun(spark: SparkSession, dir: String, tag: String,
      batch: DataFrame, scratchName: String): DataFrame = {
    import spark.implicits._
    import graft.engine.{DataQuality => DQ, Fs}
    val rules = Seq(DQ.NotNull("p_name"))
    val base = partSource(spark, dir)
    val root = Fs.scratch(scratchName, dir)
    Fs.deleteDir(spark, root)
    // r16 (opt guide §2.6): the v1 publish and the batch checkpoint are
    // independent jobs (v1 derives from base, the checkpoint from the
    // batch; disjoint outputs) — run them from two driver threads. The
    // batch is scanned by BOTH the gate and the merge (plus the merge's
    // two join legs); one eager materialization beats three
    // re-derivations from the source table.
    val results = graft.engine.Par.runAll[Any](
      () => base.withColumn(cfg.hashCol, Scd2.attrHash(cfg.trackedCols))
        .withColumn(cfg.surrogateKey, col("part_key"))
        .withColumn(cfg.effectiveCol, to_date(lit("2024-01-01")))
        .withColumn(cfg.expiryCol, lit(null).cast("date"))
        .withColumn(cfg.currentCol, lit(true))
        .coalesce(1) // dim-sized relation: one file reads fastest downstream
        .write.mode("overwrite").parquet(s"$root/v1"),
      () => batch.localCheckpoint(true))
    val b = results(1).asInstanceOf[DataFrame]
    val dim0 = Fs.readParquet(spark, s"$root/v1")
    val (report, maxSk) = Scd2.gateBatchesWithMaxSk(dim0, Seq(tag -> b),
      cfg, rules, maxExpirePct = 50)
    val rows = report.collect()
    val promoted = rows.forall(_.getAs[Boolean]("passed")) &&
      rows.headOption.exists(_.getAs[Long]("n_rows") > 0)
    if (promoted)
      Scd2.applyChanges(dim0, b, cfg, "2024-06-01", Some(maxSk))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/v2")
    // landed state comes off DISK: the batch's v2 if its merge committed,
    // else the untouched v1
    val landed = Fs.readParquet(spark,
        if (promoted) s"$root/v2" else s"$root/v1")
      .agg(count(lit(1)).as("__versions"),
        sum(when(col(cfg.currentCol), 1L).otherwise(0L)).as("__current"))
      .collect()(0)
    val (versions, current) = (landed.getAs[Long]("__versions"),
      landed.getAs[Long]("__current"))

    rows.toSeq.map { r =>
      (tag, r.getAs[String]("rule"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_violations"), r.getAs[Boolean]("passed"),
        promoted, versions, current)
    }.toDF("batch", "rule", "n_rows", "n_violations", "passed",
        "promoted", "versions_on_disk", "current_on_disk")
      .orderBy(col("batch"), col("rule"))
  }

  /** END-TO-END gated SCD2 promotion, ACCEPT path
    * ([[Scd2.applyChangesGated]] semantics) — the dimension-load twin of
    * [[graft.queries.DataQuality.dqGatedPromotion]], covering the
    * reference's count-gate on its dim load
    * (`dags/product.py:123,304,315`) grown into declarative rules plus
    * the SCD2 invariants. One full write→gate→merge run against a REAL
    * on-disk dimension: the CLEAN batch ([[secondSource]] deltas only —
    * every 7th part price-bumped, every 50th reappearing under a new
    * key; a full reload arriving as a "batch" is exactly the fat-finger
    * the blast-radius rule exists to reject) expires ~14% of current
    * versions, under the 50% cap; the merge promotes and the v2
    * dimension lands on disk, read back to prove it.
    *
    * The REJECT path is its own query ([[gateReject]]) — round-9 brief
    * #2: one query per merge cycle, each under the per-query perf line,
    * instead of one composed query defining a 2-cycle cost. */
  def gated(spark: SparkSession, dir: String): DataFrame = {
    val clean = secondSource(spark, dir)
      .filter(col("part_key") % 7 === 0 || col("part_key") >= 1000000)
    gatedRun(spark, dir, "clean", clean, "graft_scd2g_accept")
  }

  /** END-TO-END gated SCD2 promotion, REJECT path: a fat-fingered full
    * reload (EVERY price bumped ⇒ 100% of the dimension would expire)
    * that also carries a conflicting duplicate (one business key twice
    * with different prices and no recency order — "latest" is
    * undefined). Both SCD2 invariants fire; the batch is REJECTED whole
    * and the read-back proves the on-disk dimension stayed at v1. */
  def gateReject(spark: SparkSession, dir: String): DataFrame = {
    val base = partSource(spark, dir)
    val tainted = base
      .withColumn("price_cents", col("price_cents") + 1)
      .unionByName(base.filter(col("part_key") === 1)
        .withColumn("price_cents", col("price_cents") + 999))
    gatedRun(spark, dir, "tainted", tainted, "graft_scd2g_reject")
  }

  /** Fact ⋈ SCD2-dim AS-OF: every fact line joins the dimension version
    * that was CURRENT on its as-of date — the consumer pattern SCD2
    * exists for (the reference maintains its product dim,
    * `dags/product.py:248-361`, precisely so facts can join the
    * historically-correct version). Fixture order dates predate the dim
    * timeline, so each line derives a deterministic as-of date from its
    * order month parity: even months read the initial (2024-03-01)
    * version, odd months the post-upsert (2024-07-01) one — every fact
    * thus exercises version selection both before and after the merge
    * (price-bumped parts resolve to DIFFERENT price_cents per branch).
    *
    * Plan shape at scale: equi-join on part_key with the validity range
    * as a residual predicate; the dim is dwarfed by the fact side, so it
    * broadcasts — the fact never shuffles (same contract as the star
    * joins, pinned by PlanQualitySpec). */
  def factDimAsOf(spark: SparkSession, dir: String): DataFrame = {
    val dim = upsertStored(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val fact = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("as_of",
        when(month(col("o_orderdate")) % 2 === 0, to_date(lit("2024-03-01")))
          .otherwise(to_date(lit("2024-07-01"))))
    fact.join(broadcast(dim),
        col("l_partkey") === col("part_key") &&
          col("effective_date") <= col("as_of") &&
          (col("expiry_date").isNull || col("expiry_date") > col("as_of")))
      .groupBy(col("as_of"), col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("price_cents") * col("qty")).as("dim_value_cents"))
      .orderBy(col("as_of"), col("p_brand"))
  }
}
