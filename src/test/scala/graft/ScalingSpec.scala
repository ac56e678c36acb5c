package graft

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.engine.Manifest
import graft.queries.{Graphs, Marts}
import graft.sim.Similarity
import graft.streaming.ClusterMaintain
import graft.text.TextAnalysis

/** The operators' scale claims, pinned on counts that do not move with
  * the host. Each family runs on ×1/×2/×4 replicas of the sf0.001
  * fixture and is held to the claim its scaladoc makes, in one of three
  * shapes:
  *  - linear: shuffle records(m) ≤ m·(1+ε)·records(1);
  *  - output-normalized (clone cliques, whose output grows ~m²): shuffle
  *    records per (input + output) row ≤ (1+ε)× the ×1 value;
  *  - constant / flat: the named counter ≤ (1+ε)× its ×1 value.
  * The regime makes a record count measure the plan: no broadcast (a
  * plan cannot flip strategy between sizes), one shuffle partition with
  * AQE coalescing off (a partial aggregate sees all its rows in one
  * task), and every replica table one file under a fresh root (the
  * `Derived` and fit-registry memos key on the path). Every run prints
  * one `[scaling]` row: jobs, shuffle records, input records, output
  * rows. */
class ScalingSpec extends SparkSpec {
  // fixed before any ×2/×4 run: slack for counts that need not scale
  // exactly (sampled fits, per-task constants). A cross-replica join, a
  // partial aggregate that stopped combining or a store-sized shuffle
  // in a fixed-batch ingest moves its counter far past it by ×4.
  private val eps = 0.25
  private val mults = Seq(1, 2, 4)

  private def inRegime[T](body: => T): T = {
    val regime = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = regime.map { case (k, _) => k -> spark.conf.getOption(k) }
    regime.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- replicas: copy 0 is the fixture, copy i a disjoint variant ----

  private val roots = mutable.Map[(String, Int), String]()

  private def root(shape: String, m: Int): String = roots.getOrElseUpdate((shape, m), {
    val r = Files.createTempDirectory(s"scaling_${shape}_x$m").toString
    def write(table: String, copies: Int)(copy: (DataFrame, Int) => DataFrame): Unit =
      (0 until copies).map(copy(Tables.read(spark, sf, table), _)).reduce(_ unionByName _)
        .coalesce(1).write.parquet(s"$r/$table.parquet")
    def shift(c: String, by: Long)(t: DataFrame, i: Int) = t.withColumn(c, col(c) + lit(i * by))
    def suffix(c: String, v: Int => org.apache.spark.sql.Column)(t: DataFrame, i: Int) =
      shift("doc_id", 10000000L)(t, i).withColumn(c, if (i == 0) col(c) else v(i))
    shape match {
      // m disjoint co-purchase graphs: order and part keys shifted
      case "graph" => write("lineitem", m)((t, i) =>
        shift("l_partkey", 10000000L)(shift("l_orderkey", 1000000000L)(t, i), i))
      // facts grow ×m under shifted order keys; dims and the mart's
      // grouped keyspace stay the fixture's
      case "facts" =>
        write("lineitem", m)(shift("l_orderkey", 1000000000L))
        write("orders", m)(shift("o_orderkey", 1000000000L))
        Seq("part", "customer", "nation", "region").foreach(write(_, 1)((t, _) => t))
      // same text under new ids: every clone family a true near-dup clique
      case "clones" => write("documents", m)(shift("doc_id", 10000000L))
      // every token suffixed per copy: each copy keeps the fixture's
      // token-set similarities, copies share no token or shingle
      case "salted" => write("documents", m)(suffix("text", i =>
        expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$i')), ' ')")))
      // lang (the edit-distance join's leading key) suffixed per copy
      case "langs" => write("documents", m)(suffix("lang", i => concat(col("lang"), lit(s"_$i"))))
      // odd vec_ids for i > 0 never meet the vec_id % 100 == 0 query
      // predicate: the corpus grows ×m under a fixed query set
      case "vectors" => write("embeddings", m)((t, i) =>
        if (i == 0) t else t.withColumn("vec_id", col("vec_id") * 2 + lit(1L + i * 100000000L)))
    }
    r
  })

  // ---- observation: one counted run per size ----

  private case class Obs(m: Int, work: SparkWork.Counts, out: Long, extra: Long)

  /** `run(m)` prepares size m uncounted (roots, stores, indexes) and
    * returns the counted body: output rows and one family figure. */
  private def observe(family: String)(run: Int => () => (Long, Long)): Seq[Obs] =
    inRegime(mults.map { m =>
      val body = run(m)
      val ((out, extra), w) = SparkWork.count(spark)(body())
      println(f"[scaling] $family%-22s x$m jobs=${w.jobs}%4d shuffle=${w.shuffleRecords}%8d " +
        f"input=${w.inputRecords}%8d output=$out%7d extra=$extra")
      Obs(m, w, out, extra)
    })

  private def query(family: String, shape: String)(q: String => DataFrame): Seq[Obs] =
    observe(family) { m =>
      val r = root(shape, m)
      () => (q(r).collect().length.toLong, 0L)
    }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Records written by the exchange under each final aggregate: the
    * rows its partial aggregate emitted, or every input row when
    * nothing combined before the shuffle. */
  private def finalAggInput(df: DataFrame): Long = {
    def exchangeBelow(p: SparkPlan): Long = p match {
      case e: ShuffleExchangeLike => e.metrics("shuffleRecordsWritten").value
      case s: QueryStageExec => exchangeBelow(s.plan)
      case u if u.children.size == 1 => exchangeBelow(u.children.head)
      case _ => 0L
    }
    Plans.collect(df.queryExecution.executedPlan) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => exchangeBelow(a.child)
    }.sum
  }

  /** Records written by the exchanges whose rows carry all of `cols`. */
  private def exchangeRecords(df: DataFrame, cols: Set[String]): Long =
    Plans.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if cols.subsetOf(e.output.map(_.name).toSet) =>
        e.metrics("shuffleRecordsWritten").value
    }.sum

  // ---- the three shapes ----

  private def bounded(family: String, what: String, obs: Seq[Obs], get: Obs => Long)
      (limit: (Obs, Long) => Double): Unit = {
    val x1 = get(obs.head)
    assert(x1 > 0, s"$family: the x1 $what is 0, so the bound checks nothing")
    obs.foreach(o => assert(get(o) <= limit(o, x1),
      s"$family x${o.m}: $what ${get(o)} > ${limit(o, x1)} (x1: $x1, eps $eps)"))
  }

  private def linear(family: String, obs: Seq[Obs]): Unit =
    bounded(family, "shuffle records", obs, _.work.shuffleRecords)((o, x1) => o.m * (1 + eps) * x1)

  private def flat(family: String, what: String, obs: Seq[Obs])(get: Obs => Long): Unit =
    bounded(family, what, obs, get)((_, x1) => (1 + eps) * x1)

  private def outputNormalized(family: String, obs: Seq[Obs]): Unit = {
    def perRow(o: Obs) = o.work.shuffleRecords.toDouble / (o.work.inputRecords + o.out)
    assert(obs.head.work.shuffleRecords > 0 && obs.head.out > 0,
      s"$family: the x1 shuffle records or output rows are 0")
    obs.foreach(o => assert(perRow(o) <= (1 + eps) * perRow(obs.head),
      f"$family x${o.m}: ${perRow(o)}%.3f shuffle records per (input + output) row > " +
        f"(1+eps)·${perRow(obs.head)}%.3f"))
  }

  private def equal(family: String, what: String, obs: Seq[Obs])(get: Obs => Long): Unit =
    obs.foreach(o => assert(get(o) == get(obs.head),
      s"$family x${o.m}: $what ${get(o)} != x${obs.head.m} ${get(obs.head)}"))

  // ---- the counters themselves ----

  test("SparkWork counts the records a scan reads and a shuffle writes") {
    val (_, scan) = SparkWork.count(spark)(Tables.lineitem(spark, sf).collect())
    assert(scan.inputRecords == 6000L, s"$scan")
    val (_, shuffle) = SparkWork.count(spark)(spark.range(1000).repartition(3).collect())
    assert(shuffle.shuffleRecords == 1000L, s"$shuffle")
  }

  // ---- linear ----

  test("linear: triangle_counts and part_kcore on disjoint graph copies") {
    linear("triangle_counts", query("triangle_counts", "graph")(Graphs.triangleCounts(spark, _)))
    linear("part_kcore", query("part_kcore", "graph")(Graphs.partKcore(spark, _)))
  }

  test("linear: containment_pairs on token-salted copies") {
    linear("containment_pairs", query("containment_pairs", "salted")(Dedup.containmentPairs(spark, _)))
  }

  // salting re-draws the SimHash fingerprints, so salted copies are
  // near-dup graphs of their own (alone, copies 0-3 take 19/21/18/20
  // jobs); the fixpoint's round count is pinned on m shifted copies of
  // the fixture's own pair graph instead
  test("linear: neardup_clusters on token-salted copies; its fixpoint's jobs constant over disjoint graph copies") {
    linear("neardup_clusters", query("neardup_clusters", "salted")(Dedup.nearDupClusters(spark, _)))
    val pairs = Dedup.simhashPairs(spark, sf).select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val obs = observe("neardup_fixpoint") { m =>
      import spark.implicits._
      val copies = (0 until m).flatMap(i => pairs.map { case (a, b) => (a + i * 10000000L, b + i * 10000000L) })
      () => (Dedup.minLabelFixpoint(copies.toDF("doc_a", "doc_b")).collect().length.toLong, 0L)
    }
    linear("neardup_fixpoint", obs)
    equal("neardup_fixpoint", "jobs", obs)(_.work.jobs.toLong)
  }

  test("linear: edit_dist_pairs on lang-salted copies") {
    linear("edit_dist_pairs/langs", query("edit_dist_pairs/langs", "langs")(Dedup.editDistancePairs(spark, _)))
  }

  test("linear: knn_pq, knn_ivfpq and mmr_select on odd-id corpus copies under a fixed query set") {
    linear("knn_pq", query("knn_pq", "vectors")(Similarity.knnPq(spark, _)))
    linear("knn_ivfpq", query("knn_ivfpq", "vectors")(Similarity.knnIvfPq(spark, _)))
    linear("mmr_select", query("mmr_select", "vectors")(Similarity.mmrSelect(spark, _)))
  }

  test("linear: dup_spans and span_dedup on clones, their distinct output constant") {
    val spans = query("dup_spans", "clones")(TextAnalysis.dupSpans(spark, _))
    linear("dup_spans", spans)
    // from x2 on every span has a clone, so the output is every distinct
    // span hash; at x1 only the fixture's own repeats qualify
    equal("dup_spans", "output rows", spans.tail)(_.out)
    val dedup = observe("span_dedup") { m =>
      val r = root("clones", m)
      () => {
        val rows = TextAnalysis.spanDedup(spark, r).collect()
        (rows.length.toLong, rows.map(_.getAs[Long]("n_kept")).sum)
      }
    }
    linear("span_dedup", dedup)
    equal("span_dedup", "sum of n_kept", dedup)(_.extra)
  }

  // ---- output-normalized ----

  // On clones every pairwise term grows ~m² with the output, so the
  // output-normalized bound alone only catches super-quadratic work. The
  // operators' own claims are sharper and pinned beside it: contraction
  // runs minhash and edit distance once per DISTINCT set or group, so the
  // shuffle beyond the output rows is flat; the frequency cap keeps
  // capped containment's candidates within linear.
  test("output-normalized: minhash_pairs, edit_dist_pairs and capped containment_pairs on clone cliques") {
    for ((family, q) <- Seq[(String, String => DataFrame)](
        "minhash_pairs" -> (Dedup.minhashPairs(spark, _)),
        "edit_dist_pairs/clones" -> (Dedup.editDistancePairs(spark, _)))) {
      val obs = query(family, "clones")(q)
      outputNormalized(family, obs)
      flat(family, "shuffle records beyond the output rows", obs)(o => o.work.shuffleRecords - o.out)
    }
    val capped = query("containment_pairs/capped", "clones")(
      Dedup.containmentPairs(spark, _, maxShingleFreq = Some(10)))
    outputNormalized("containment_pairs/capped", capped)
    linear("containment_pairs/capped", capped)
  }

  // ---- constant / flat ----

  test("constant: sales_summary_calendar output and partial-aggregate rows as facts grow") {
    val obs = observe("sales_summary_calendar") { m =>
      val r = root("facts", m)
      () => {
        val df = Marts.salesSummaryCalendar(spark, r)
        (df.collect().length.toLong, finalAggInput(df))
      }
    }
    equal("sales_summary_calendar", "output rows", obs)(_.out)
    flat("sales_summary_calendar", "partial-aggregate rows", obs)(_.extra)
    linear("sales_summary_calendar", obs)
  }

  private def docs(dir: String) = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
  // a small fixed batch (10 fixture docs), so a store-sized term in an
  // ingest stands out against the batch's own work
  private def batch = docs(sf).filter(col("doc_id") % 50 === 3)
  private def store(tag: String) = Files.createTempDirectory(tag).toString + "/store"

  test("flat: cluster ingest of a fixed batch against a growing store") {
    val obs = observe("cluster_ingest") { m =>
      val st = store(s"scaling_stream_x$m")
      ClusterMaintain.ingestBatch(docs(root("salted", m)).filter(col("doc_id") % 50 =!= 3), st, 0L)
      () => (ClusterMaintain.ingestBatch(batch, st, 1L), 0L)
    }
    flat("cluster_ingest", "shuffle records", obs)(_.work.shuffleRecords)
  }

  test("flat: cluster ingest after compactMerges of a growing merge chain") {
    val obs = observe("cluster_ingest/compacted") { m =>
      val st = store(s"scaling_compact_x$m")
      ClusterMaintain.ingestBatch(docs(sf).filter(col("doc_id") % 50 =!= 3), st, 0L)
      Manifest.replacePartitions(
        spark.range(2000L * m).select((col("id") + lit(1000000001L)).as("old_label"),
          (col("id") + lit(1000000000L)).as("new_label"), lit(1L).as("batch_id")),
        s"$st/merges", Seq("batch_id"))
      ClusterMaintain.compactMerges(spark, st)
      () => (ClusterMaintain.ingestBatch(batch, st, 2L), 0L)
    }
    flat("cluster_ingest/compacted", "shuffle records", obs)(_.work.shuffleRecords)
  }

  test("flat: IVF-PQ batch ingest against a growing index") {
    val obs = observe("ivfpq_ingest") { m =>
      val idx = Files.createTempDirectory(s"scaling_ivfpq_x$m").toString + "/idx"
      Similarity.buildIvfPqIndexOn(Similarity.preparedCk(spark, root("vectors", m)), idx, 10, 3, 8, 32, 2)
      () => (Similarity.ingestIvfPqBatch(Similarity.prepared(spark, sf)
        .select((col("vec_id") + lit(900000000L)).as("vec_id"), col("v"), col("norm2")), idx, 1L), 0L)
    }
    flat("ivfpq_ingest", "shuffle records", obs)(_.work.shuffleRecords)
    flat("ivfpq_ingest", "input records", obs)(_.work.inputRecords)
  }

  test("flat: incremental containment candidates against a growing corpus") {
    val obs = observe("containment_incr") { m =>
      val idx = Dedup.shingleIndex(spark, root("salted", m)).filter(col("n_sh") > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.count()
      () => {
        val df = Dedup.containmentIncrementalOn(idx,
          col("doc_id") < 10000000L && col("doc_id") % 10 === 0, 0.8, Dedup.maxBroadcastRows)
        try (df.collect().length.toLong, exchangeRecords(df, Set("doc_id", "container_id")))
        finally idx.unpersist()
      }
    }
    flat("containment_incr", "candidate shuffle records", obs)(_.extra)
    // the verify reads the candidates' containers, not the corpus index
    flat("containment_incr", "shuffle records", obs)(_.work.shuffleRecords)
  }
}
