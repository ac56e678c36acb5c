package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Manifest
import graft.sim.Similarity

/** Pins [[graft.sim.Similarity.ingestIvfPqBatch]] /
  * [[graft.sim.Similarity.annIndexMaintain]] — incremental IVF-PQ index
  * maintenance (round-12 brief #4). The pins, in order of importance:
  * (1) ingest is APPEND-ONLY — the base `lists` table gets no commit
  * (same version, same entries) and the encode against the stored
  * quantizers is row-identical to the build-time encoder on the same
  * batch; (2) serving from the maintained index (base + delta under one
  * `cid` pruning) equals the inline composite over the full corpus at
  * the same fit basis; (3) replaying a batch is exactly-once (stores and
  * serve output unchanged); (4) the drift trigger fires on a genuinely
  * drifted batch and stays quiet on an iid one; (5) a maintenance step
  * that fails inside a commit leaves every table at a readable snapshot,
  * and its re-run converges to the clean run's stores. */
class IvfMaintainSpec extends SparkSpec {

  private val (m, codes, subDim) = (8, 32, 8)
  private val tables = Seq("centroids", "codebooks", "lists", "delta", "stats", "stats_delta")

  private def snapshot(dir: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(dir)
    if (!root.exists) Set.empty
    else walk(root).map(f => (f.getPath, f.lastModified, f.length)).toSet
  }

  private def read(idx: String, table: String): DataFrame =
    Manifest.read(spark, s"$idx/$table")

  private def state(idx: String, table: String): Manifest.State =
    Manifest.state(spark, s"$idx/$table").get

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSet

  private def batchIds(idx: String, table: String): Set[Long] =
    read(idx, table).select("batch_id").distinct().collect().map(_.getLong(0)).toSet

  private def serveRows(e: DataFrame, idx: String) =
    Similarity.knnIvfPqFromIndexOn(e, idx, 5, 2, m, 50).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq

  /** A base-slice index with fit stats and the negated (drifted) batch
    * ingested as batch 1 — the state every drift step starts from. */
  private def driftedIndex(idx: String): Unit = {
    val e = Similarity.preparedCk(spark, sf)
    val base = e.filter(col("vec_id") % 4 =!= 3)
    val (coarse, _) = Similarity.buildIvfPqIndexOn(base, idx, 10, 3, m, codes, 2)
    Similarity.commitFitStats(base, coarse, idx)
    Similarity.ingestIvfPqBatch(drifted(e), idx, 1L, m)
  }

  private def drifted(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 4 === 3).withColumn("v", expr("transform(v, x -> -x)"))

  // arms the shared crashat:// FS to throw at the first file created
  // under `idx/<table>/`, and returns `idx` on that scheme
  private def crashAtCreateUnder(idx: String, table: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashat.impl", classOf[CrashAtFs].getName)
    CrashAtFs.crashPath = _.toUri.getPath.startsWith(s"$idx/$table/")
    CrashAtFs.crashOp = Some("create")
    s"crashat://$idx"
  }

  test("ingest is append-only, encode-equivalent, and serve matches the inline composite") {
    import spark.implicits._
    val idx = Files.createTempDirectory("ivf_maint").toString + "/idx"
    val e = Similarity.preparedCk(spark, sf)
    val base = e.filter(col("vec_id") % 4 =!= 3)
    val batch = e.filter(col("vec_id") % 4 === 3)
    val (coarse, fits) = Similarity.buildIvfPqIndexOn(base, idx, 10, 3, m, codes, 2)
    val baseLists = state(idx, "lists")
    Similarity.ingestIvfPqBatch(batch, idx, 1L, m)
    // (1) the base table got no commit; the batch landed as its own
    // batch-keyed delta partitions under the same cid pruning
    assert(state(idx, "lists") == baseLists, "ingest committed to the base lists table")
    assert(batchIds(idx, "delta") == Set(1L), "delta partition missing")
    // (1b) encode equivalence: delta rows == the build-time encoder run
    // on the batch against the SAME (round-tripped) quantizers
    val cbDf = Similarity.pqCodebookDf(spark,
      Similarity.pqPaddedRows(fits, m, codes, subDim))
    def rowSet(df: DataFrame) =
      df.select(col("neighbor_id"), col("codes"), col("recon_n2"), col("cid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getDouble(2), r.getInt(3)))
        .toSet
    val expected = rowSet(Similarity.pqEncodeCoded(batch, coarse, fits, m, subDim, cbDf))
    val got = rowSet(read(idx, "delta"))
    assert(got == expected,
      s"delta diverges from build-time encode: only-got=${(got -- expected).take(3)} " +
        s"only-expected=${(expected -- got).take(3)}")
    // (2) maintained serve == inline composite over the full corpus at
    // the same fit basis (base-fit quantizers, base+batch scan set)
    val centDf = coarse.map(c => (c.cid, c.c, c.cn2)).toDF("cid", "centroid", "cnorm2")
    val inline = Similarity.ivfpqServe(
        Similarity.pqEncodeCoded(e, coarse, fits, m, subDim, cbDf),
        e, centDf, cbDf, 5, 2, m, 50).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    val served = serveRows(e, idx)
    assert(served == inline, "maintained serve diverges from the inline composite")
    // (3) exactly-once: replaying the batch reproduces the stores and
    // the serve (the replay commits fresh data dirs, so the partition
    // set and the rows are compared, not paths)
    def deltaLayout() = (state(idx, "delta").entries.map(_.part).sorted, rows(read(idx, "delta")))
    val deltaBefore = deltaLayout()
    val statsBefore = rows(read(idx, "stats_delta"))
    Similarity.ingestIvfPqBatch(batch, idx, 1L, m)
    assert(serveRows(e, idx) == served, "replayed ingest changed serve output")
    assert(deltaLayout() == deltaBefore, "replayed ingest changed the delta table")
    assert(rows(read(idx, "stats_delta")) == statsBefore)
    assert(state(idx, "lists") == baseLists)
  }

  test("plan: the batch encode reads ONLY the batch — no store scan, no shuffle join") {
    import org.apache.spark.sql.execution.FormattedMode
    val e = Similarity.preparedCk(spark, sf)
    val base = e.filter(col("vec_id") % 4 =!= 3)
    val idx = Files.createTempDirectory("ivf_plan").toString + "/idx"
    val (coarse, fits) = Similarity.buildIvfPqIndexOn(base, idx, 10, 3, m, codes, 2)
    val cbDf = Similarity.pqCodebookDf(spark,
      Similarity.pqPaddedRows(fits, m, codes, subDim))
    val batch = e.filter(col("vec_id") % 4 === 3)
    val plan = Similarity.pqEncodeCoded(batch, coarse, fits, m, subDim, cbDf)
      .queryExecution.explainString(FormattedMode)
    // the ingest's scale promise: ONE pass over the batch relation —
    // no store/corpus scan (quantizers are driver metadata turned local
    // relations), no shuffle join; the only exchanges permitted are the
    // metadata-scale aggregations INSIDE the broadcast codebook subtree
    assert(!plan.contains("Scan parquet"), s"encode scanned a store:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
    val bcasts = "BroadcastExchange".r.findAllIn(plan).size
    assert(bcasts >= 1, s"expected broadcast quantizer attaches\n$plan")
  }

  test("delta compaction: serve identical, delta gone, idempotent, crash window heals") {
    val idx = Files.createTempDirectory("ivf_cmp").toString + "/idx"
    val e = Similarity.preparedCk(spark, sf)
    Similarity.buildIvfPqIndexOn(e.filter(col("vec_id") % 4 =!= 3), idx, 10, 3, m, codes, 2)
    Similarity.ingestIvfPqBatch(e.filter(col("vec_id") % 4 === 3), idx, 1L, m)
    val before = serveRows(e, idx)
    val folded = Similarity.compactIvfPqDelta(spark, idx)
    assert(folded > 0L)
    assert(state(idx, "delta").entries.isEmpty, "delta not emptied")
    assert(serveRows(e, idx) == before, "compaction changed serve output")
    val compacted = state(idx, "lists")
    assert(Similarity.compactIvfPqDelta(spark, idx) == 0L)
    assert(state(idx, "lists") == compacted, "a no-op compaction committed")
    // crash window: lists already hold the folded rows AND the delta
    // still holds them (simulated by re-ingesting the same batch — its
    // encode is bit-identical, exactly the duplicated state a crash
    // between the lists commit and the delta commit leaves). The
    // contract is re-running the idempotent compaction before serving;
    // it heals exactly.
    Similarity.ingestIvfPqBatch(e.filter(col("vec_id") % 4 === 3), idx, 1L, m)
    Similarity.compactIvfPqDelta(spark, idx)
    assert(serveRows(e, idx) == before, "healed compaction diverged")
    // base list rows carry each neighbor exactly once after the heal
    val ids = read(idx, "lists").select("neighbor_id").collect()
    assert(ids.length == ids.map(_.getLong(0)).distinct.length, "duplicate rows survived")
  }

  test("epoch-bounded refit keeps a crash-replayed ingest+refit epoch exactly-once") {
    // the ivfPqSink foreachBatch body with refitCorpus: ingest(N) then
    // refit bounded below N. Unbounded, the refit folds the epoch's OWN
    // batch_id=N delta into base; the crash-replay's re-ingest re-writes
    // that delta and the vectors are served from BOTH stores forever
    // (the serve union does not dedup). Bounded, the batch stays
    // batch-keyed and the replay replaces it idempotently.
    val idx = Files.createTempDirectory("ivf_refit_epoch").toString + "/idx"
    val e = Similarity.preparedCk(spark, sf)
    val base = e.filter(col("vec_id") % 4 =!= 3)
    val batch = drifted(e).localCheckpoint(true)
    val corpus = base.unionByName(batch).localCheckpoint(true)
    val (coarse, _) = Similarity.buildIvfPqIndexOn(base, idx, 10, 3, m, codes, 2)
    Similarity.commitFitStats(base, coarse, idx)
    def epoch0(): Int = {
      Similarity.ingestIvfPqBatch(batch, idx, 0L, m)
      Similarity.refitDriftedLists(corpus, idx, belowBatchId = 0L)
    }
    // the first run's refit must have fired (else the pin is vacuous)
    // and must NOT have folded the epoch's own delta into base
    assert(epoch0() > 0, "fixture batch did not drift — the pin would be vacuous")
    assert(batchIds(idx, "delta") == Set(0L),
      "the epoch's own delta was folded by its refit")
    def scanIds() = read(idx, "lists").select("neighbor_id")
      .unionByName(read(idx, "delta").select("neighbor_id"))
      .collect().map(_.getLong(0))
    val idsOnce = scanIds()
    assert(idsOnce.length == idsOnce.distinct.length,
      "a vector is duplicated across base and delta after one epoch")
    epoch0() // the crash replay of the WHOLE epoch
    val ids = scanIds()
    assert(ids.length == ids.distinct.length,
      "a vector is served twice after the epoch replay")
    assert(ids.toSet == idsOnce.toSet, "the replay lost or leaked vectors")
    assert(batchIds(idx, "delta") == Set(0L),
      "the replayed epoch's own delta must stay batch-keyed, not folded")
    // a later compaction folds batch 0 into base; the full corpus stays
    // exactly-once through the fold
    Similarity.compactIvfPqDelta(spark, idx)
    val idsAfter = read(idx, "lists").select("neighbor_id")
      .collect().map(_.getLong(0))
    assert(idsAfter.length == idsAfter.distinct.length)
    assert(idsAfter.toSet == idsOnce.toSet, "the fold lost or leaked vectors")
  }

  test("maintenance queries never mutate the shared base-index template") {
    // the snapshot-clone design's failure mode: a query that commits to
    // the TEMPLATE instead of its clone corrupts every later maintenance
    // query in the JVM. Pin: the template's files are bit-identical
    // across repeated maintenance runs.
    val tpl = graft.engine.Fs.scratch(
      "graft_derived_store_ivfpq_base75_10_3_8_32_2", sf)
    Similarity.annIndexMaintain(spark, sf) // first touch builds the template
    assert(new java.io.File(tpl).exists, s"expected the template at $tpl")
    val before = snapshot(tpl)
    assert(before.nonEmpty)
    Similarity.annCompactedServe(spark, sf)
    Similarity.annIndexMaintain(spark, sf)
    assert(snapshot(tpl) == before,
      "a maintenance query mutated the shared base-index template")
  }

  test("retrainIfDrifted: fires on a drifted batch (and refits), stays quiet under a huge tolerance") {
    val idx = Files.createTempDirectory("ivf_rt").toString + "/idx"
    val e = Similarity.preparedCk(spark, sf)
    driftedIndex(idx)
    // a huge tolerance: no trigger, stores untouched
    val untouched = tables.map(state(idx, _))
    assert(!Similarity.retrainIfDrifted(e, idx, driftTol = 10.0))
    assert(tables.map(state(idx, _)) == untouched)
    assert(batchIds(idx, "delta") == Set(1L))
    // the real tolerance: negated batch trips the trigger — full refit
    // over the caller's corpus, stats refreshed, delta superseded
    assert(Similarity.retrainIfDrifted(e, idx, driftTol = 0.05))
    assert(state(idx, "delta").entries.isEmpty, "delta not cleared by retrain")
    assert(state(idx, "stats_delta").entries.isEmpty, "batch stats not cleared")
    // no batch stats left -> a second call is quiet by construction
    assert(!Similarity.retrainIfDrifted(e, idx, driftTol = 0.05))
    // the rebuilt index serves the FULL corpus (batch rows are base now)
    val served = serveRows(e, idx)
    assert(served.nonEmpty)
  }

  test("retrain failing inside its stats commit keeps the old stats; the trigger re-fires and the re-run converges") {
    val root = Files.createTempDirectory("ivf_rt_crash").toString
    val (clean, crashed) = (s"$root/clean", s"$root/crashed")
    val e = Similarity.preparedCk(spark, sf)
    driftedIndex(clean); driftedIndex(crashed)
    val oldStats = rows(read(crashed, "stats"))
    assert(Similarity.retrainIfDrifted(e, clean))
    intercept[Exception](Similarity.retrainIfDrifted(e, crashAtCreateUnder(crashed, "stats")))
    assert(CrashAtFs.crashOp.isEmpty, "the retrain created no file under stats/")
    assert(rows(read(crashed, "stats")) == oldStats, "stats lost its old snapshot")
    assert(batchIds(crashed, "stats_delta") == Set(1L), "the trigger's batch stats were cleared")
    assert(Similarity.retrainIfDrifted(e, crashed), "the trigger did not re-fire")
    tables.foreach(t => assert(rows(read(crashed, t)) == rows(read(clean, t)), t))
    assert(serveRows(e, crashed) == serveRows(e, clean))
  }

  test("partial refit: untouched lists bit-identical, codes unchanged, members conserved, trigger cleared") {
    val idx = Files.createTempDirectory("ivf_partial").toString + "/idx"
    val e = Similarity.preparedCk(spark, sf)
    val base = e.filter(col("vec_id") % 4 =!= 3)
    driftedIndex(idx)
    // full corpus as the refit's vector source (base + the drifted batch)
    val corpus = base.unionByName(drifted(e)).localCheckpoint(true)
    val dCids = read(idx, "stats").join(read(idx, "stats_delta"), "cid")
      .filter(col("batch_mean_cos") + lit(0.05) < col("fit_mean_cos"))
      .select("cid").collect().map(_.getInt(0)).toSet
    assert(dCids.nonEmpty, "fixture produced no drifted list")
    val untouched = (0 until 10).toSet -- dCids
    def listEntries(cid: Int) = state(idx, "lists").entries.filter(_.part == s"cid=$cid")
    val untouchedBefore = untouched.map(c => c -> listEntries(c)).toMap
    // codes are a pure function of the codebooks: the refit may MOVE
    // rows between D-lists but never change a code byte
    def codeMap(df: DataFrame) = df
      .select(col("neighbor_id"), col("codes"), col("recon_n2")).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toList, r.getDouble(2)))).toMap
    val deltaCodes = codeMap(read(idx, "delta").filter(col("cid").isin(dCids.toSeq: _*)))
    val baseCodesBefore = codeMap(read(idx, "lists"))
    val dMembersBefore = read(idx, "lists")
      .filter(col("cid").isin(dCids.toSeq: _*))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet ++ deltaCodes.keySet
    val n = Similarity.refitDriftedLists(corpus, idx)
    assert(n == dCids.size, s"refit count $n != drifted ${dCids.size}")
    // (a) untouched list partitions keep their entries (same files)
    untouched.foreach(c => assert(listEntries(c) == untouchedBefore(c),
      s"untouched list cid=$c was rewritten"))
    // (b) every code byte unchanged; folded delta rows carried verbatim
    val after = codeMap(read(idx, "lists"))
    assert((baseCodesBefore ++ deltaCodes).forall { case (k, v) => after.get(k).contains(v) },
      "a code or recon_n2 changed during partial refit")
    // (c) D members conserved (reassignment permutes within D)
    val dMembersAfter = read(idx, "lists")
      .filter(col("cid").isin(dCids.toSeq: _*))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(dMembersAfter == dMembersBefore, "drifted members lost or leaked")
    // (d) the drift signal reset: stats_delta empty, second call a
    // no-op, stats refreshed for exactly the D rows
    assert(state(idx, "stats_delta").entries.isEmpty)
    assert(Similarity.refitDriftedLists(corpus, idx) == 0)
    // (e) serving still works over the refit index (no delta double-serve)
    assert(serveRows(e, idx).nonEmpty)
    val ids = read(idx, "lists").select("neighbor_id")
      .collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "a member is in two lists")
  }

  test("refit failing at its centroids commit keeps the old centroids; the re-run equals a clean refit") {
    val root = Files.createTempDirectory("ivf_refit_crash").toString
    val (clean, crashed) = (s"$root/clean", s"$root/crashed")
    val e = Similarity.preparedCk(spark, sf)
    val corpus = e.filter(col("vec_id") % 4 =!= 3).unionByName(drifted(e))
      .localCheckpoint(true)
    driftedIndex(clean); driftedIndex(crashed)
    val oldCents = rows(read(crashed, "centroids"))
    val n = Similarity.refitDriftedLists(corpus, clean)
    assert(n > 0, "fixture batch did not drift — the pin would be vacuous")
    intercept[Exception](Similarity.refitDriftedLists(corpus,
      crashAtCreateUnder(crashed, "centroids")))
    assert(CrashAtFs.crashOp.isEmpty, "the refit created no file under centroids/")
    assert(rows(read(crashed, "centroids")) == oldCents, "centroids lost its old snapshot")
    assert(Similarity.refitDriftedLists(corpus, crashed) == n, "the trigger did not re-fire")
    tables.foreach(t => assert(rows(read(crashed, t)) == rows(read(clean, t)), t))
    assert(serveRows(e, crashed) == serveRows(e, clean))
  }

  test("partial refit with EVERY list drifted == the full rebuild's coarse fit, bit for bit") {
    val idx = Files.createTempDirectory("ivf_partial_all").toString + "/idx"
    val e = Similarity.preparedCk(spark, sf)
    val (coarse, _) = Similarity.buildIvfPqIndexOn(e, idx, 10, 3, m, codes, 2)
    Similarity.commitFitStats(e, coarse, idx)
    // fabricate a universally-drifted signal: every list reports far
    // below its fit mean
    Manifest.write(read(idx, "stats").select(col("cid"), col("n_fit").as("n_batch"),
        (col("fit_mean_cos") - lit(1.0)).as("batch_mean_cos"), lit(1L).as("batch_id")),
      s"$idx/stats_delta", Seq("batch_id"))
    assert(Similarity.refitDriftedLists(e, idx) == coarse.size)
    // all members = the corpus and k = the fit's list count, so the
    // local Lloyd IS the global one — centroids bit-identical
    val expect = Similarity.kmeansLloyd(e, coarse.size, 3)
      .map(c => (c.cid, c.c, c.cn2)).toSet
    val got = read(idx, "centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2))).toSet
    assert(got == expect, "all-drifted partial refit diverges from the global coarse fit")
  }

  test("ivfPqSink: micro-batched stream ingests into the same store a direct ingest builds") {
    val root = Files.createTempDirectory("ivf_sink").toString
    val e = Similarity.preparedCk(spark, sf)
    val base = e.filter(col("vec_id") % 4 =!= 3)
    val batch = e.filter(col("vec_id") % 4 === 3)
    val idxStream = s"$root/idx_stream"; val idxDirect = s"$root/idx_direct"
    Similarity.buildIvfPqIndexOn(base, idxStream, 10, 3, m, codes, 2)
    Similarity.buildIvfPqIndexOn(base, idxDirect, 10, 3, m, codes, 2)
    Similarity.ingestIvfPqBatch(batch, idxDirect, 0L, m)
    batch.coalesce(1).write.parquet(s"$root/incoming/f0")
    val schema = spark.read.parquet(s"$root/incoming/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/incoming/*")
    val q = Similarity.ivfPqSink(stream, idxStream, s"$root/ckpt", m)
    q.awaitTermination(120000)
    assert(serveRows(e, idxStream) == serveRows(e, idxDirect),
      "streamed ingest diverges from direct ingest")
  }

  test("ivfPqSink with refitCorpus: streamed drift-refit equals the direct one") {
    val root = Files.createTempDirectory("ivf_sink_refit").toString
    val e = Similarity.preparedCk(spark, sf)
    val base = e.filter(col("vec_id") % 4 =!= 3)
    val batch = drifted(e).localCheckpoint(true)
    val corpus = base.unionByName(batch).localCheckpoint(true)
    def freshIndex(idx: String): Unit = {
      val (coarse, _) = Similarity.buildIvfPqIndexOn(base, idx, 10, 3, m, codes, 2)
      Similarity.commitFitStats(base, coarse, idx)
    }
    val idxStream = s"$root/idx_stream"; val idxDirect = s"$root/idx_direct"
    freshIndex(idxStream); freshIndex(idxDirect)
    // direct twin: ingest the drifted batch, then the partial refit —
    // epoch-bounded below the batch id, exactly the sink's foreachBatch
    // discipline (the batch's own delta stays batch-keyed on both sides)
    Similarity.ingestIvfPqBatch(batch, idxDirect, 0L, m)
    assert(Similarity.refitDriftedLists(corpus, idxDirect, belowBatchId = 0L) > 0,
      "fixture batch did not drift — the twin comparison would be vacuous")
    // streamed: the same batch through the sink with the refit hook
    batch.coalesce(1).write.parquet(s"$root/incoming/f0")
    val schema = spark.read.parquet(s"$root/incoming/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/incoming/*")
    val q = Similarity.ivfPqSink(stream, idxStream, s"$root/ckpt", m,
      refitCorpus = Some(() => corpus))
    q.awaitTermination(120000)
    assert(serveRows(e, idxStream) == serveRows(e, idxDirect),
      "streamed drift-refit diverges from the direct refit")
    // both sides carry refreshed stats; the trigger clear is bounded to
    // the FOLDED batches, so the epoch's own (unfolded, still
    // delta-resident) batch keeps its stats row on BOTH sides — the
    // live signal a later epoch re-evaluates against the refreshed
    // baseline, instead of being silently consumed
    assert(batchIds(idxStream, "stats_delta") == Set(0L),
      "the unfolded epoch's drift signal must survive the bounded clear")
    assert(batchIds(idxDirect, "stats_delta") == Set(0L))
    assert(rows(read(idxStream, "stats")) == rows(read(idxDirect, "stats")))
  }

  test("ingest schedules a bounded handful of executions — none over the corpus") {
    val idx = Files.createTempDirectory("ivf_jobs").toString + "/idx"
    val e = Similarity.preparedCk(spark, sf)
    Similarity.buildIvfPqIndexOn(e.filter(col("vec_id") % 4 =!= 3), idx, 10, 3, m, codes, 2)
    val batch = e.filter(col("vec_id") % 4 === 3).localCheckpoint(true)
    val execs = SparkWork.count(spark) {
      Similarity.ingestIvfPqBatch(batch, idx, 1L, m)
    }._2.sqlExecutions
    // 2 metadata collects (centroids + codebooks) + delta commit + stats
    // commit + the batch count — the IvfBuildSpec upper-bound
    // discipline: the pin guards against the ingest regressing into
    // corpus-scale scans/fits, with slack for a Spark version emitting a
    // bookkeeping execution
    assert(execs <= 7,
      s"ingest must stay a bounded metadata+batch composite, saw $execs")
    assert(execs >= 4,
      s"expected at least the 2 store commits + metadata reads, saw $execs")
  }

  test("drift report shape + the trigger fires on a genuinely drifted batch") {
    // the query surface end-to-end (report per fit list, flags boolean;
    // at tiny fixture scale the iid split can legitimately flag — the
    // oracle replays whatever the data says, so no quiet assertion here)
    val report = Similarity.annIndexMaintain(spark, sf)
      .collect().map(r => (r.getInt(0), r.getBoolean(6))).toMap
    assert(report.nonEmpty)
    // a genuinely DRIFTED batch: negated vectors — the argmax then lands
    // on the centroid whose ORIGINAL cosine was most negative, so the
    // assigned cosine becomes −(per-vector minimum) ≈ the distribution
    // TAIL instead of its max: assignment quality drops across the board
    val idx = Files.createTempDirectory("ivf_drift").toString + "/idx"
    driftedIndex(idx)
    val fit = read(idx, "stats")
      .collect().map(r => r.getAs[Int]("cid") -> r.getAs[Double]("fit_mean_cos")).toMap
    val bat = read(idx, "stats_delta")
      .collect().map(r => r.getAs[Int]("cid") ->
        (r.getAs[Long]("n_batch"), r.getAs[Double]("batch_mean_cos"))).toMap
    assert(bat.nonEmpty)
    // aggregate quality drop beyond the tolerance + at least one list
    // individually past the trigger (per-list margins vary at fixture
    // scale; the aggregate is the robust signal)
    def wmean(xs: Iterable[(Long, Double)]) = {
      val n = xs.map(_._1).sum
      xs.map { case (c, v) => c * v }.sum / n
    }
    val fitOverall = wmean(fit.map { case (cid, v) => (1L, v) })
    val batOverall = wmean(bat.values)
    assert(batOverall + 0.05 < fitOverall,
      s"drifted batch mean $batOverall not below fit mean $fitOverall - tol")
    assert(bat.exists { case (cid, (_, bm)) =>
      fit.get(cid).exists(fm => bm + 0.05 < fm) },
      s"no individual list past the drift trigger: fit=$fit bat=$bat")
  }
}
