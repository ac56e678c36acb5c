package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode
import graft.dedup.Dedup
import graft.engine.Manifest
import graft.streaming.ClusterMaintain

/** Pins [[graft.streaming.ClusterMaintain]] — incremental near-dup
  * cluster maintenance (round-11 brief #4). The pins, in order of
  * importance: (1) the incremental invariant — maintained labels equal
  * ONE full connected-components run over the complete MinHash pair
  * graph; (2) the merge mechanics on a deterministic micro-corpus
  * (backward-moving minimum, CHAINED merges that need transitive
  * resolution); (3) replay determinism under the batch-keyed stores,
  * and a crash at any of their Manifest commits leaves no torn snapshot
  * and re-runs to a clean twin's state; (4) the 100 TB shape — the stored-index probe keeps the corpus side
  * map-only (batch bands broadcast; the only shuffle is the
  * survivor-scale distinct). */
class ClusterMaintainSpec extends SparkSpec {

  test("incremental maintenance == one full CC run over the complete MinHash pair graph") {
    // 3 batches here (the query surface defaults to 2 for bench cost):
    // the deeper replay exercises merge CHAINS against the real fixture
    val got = ClusterMaintain.streamingClusters(spark, sf, nBatches = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // expected: full CC over the exact (uncapped) pair generator +
    // singleton attach + sizes — the nearDupClusters shape on the
    // minhash edge basis
    val comp = Dedup.connectedComponents(
      Dedup.minhashPairs(spark, sf), "doc_a", "doc_b")
    val assigned = Tables.documents(spark, sf).select(col("doc_id"))
      .join(comp.withColumnRenamed("node", "__n"),
        col("doc_id") === col("__n"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val expected = assigned.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"incremental labels diverge from full CC: only-got=${(got -- expected).take(5)} " +
        s"only-expected=${(expected -- got).take(5)}")
  }

  test("merge mechanics: backward-moving min and CHAINED merges resolve transitively") {
    import spark.implicits._
    val root = Files.createTempDirectory("cm_micro").toString + "/store"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // identical texts share signatures, so every band collides —
    // deterministic edges; later batches carry SMALLER ids, so cluster
    // minima move backward and each move is a stored merge edge
    ClusterMaintain.ingestBatch(batch(10L -> t1, 20L -> t2), root, 0L)
    ClusterMaintain.ingestBatch(batch(30L -> t1, 40L -> t2), root, 1L)
    ClusterMaintain.ingestBatch(batch(5L -> t1, 15L -> t2), root, 2L) // merges 10->5, 20->15
    ClusterMaintain.ingestBatch(batch(3L -> t1), root, 3L)            // merge 5->3 (chain!)
    val got = ClusterMaintain.labels(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 3L, 30L -> 3L, 5L -> 3L, 3L -> 3L,
      20L -> 15L, 40L -> 15L, 15L -> 15L),
      s"got $got")
    // label store rows for batch-0 docs still carry their ORIGINAL
    // labels — merges are recorded, old members never rewritten
    val raw = Manifest.read(spark, s"$root/labels")
      .filter(col("batch_id") === 0L).select(col("doc_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw == Map(10L -> 10L, 20L -> 20L),
      s"batch-0 label rows were rewritten: $raw")
  }

  test("replay: re-ingesting a middle batch after later batches reproduces the stores") {
    import spark.implicits._
    val root = Files.createTempDirectory("cm_replay").toString + "/store"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    (0L to 2L).foreach { b =>
      ClusterMaintain.ingestBatch(docs.filter(col("doc_id") % 3 === b), root, b)
    }
    val before = ClusterMaintain.labels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // redeliver batch 1 (crash-replay): probes only batches < 1, so the
    // original decision basis is restored exactly
    ClusterMaintain.ingestBatch(docs.filter(col("doc_id") % 3 === 1), root, 1L)
    val after = ClusterMaintain.labels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after.sameElements(before), "replayed batch changed the resolved labels")
  }

  test("streaming sink: micro-batched file source maintains the same cluster store") {
    import spark.implicits._
    val root = Files.createTempDirectory("cm_sink").toString
    val in = s"$root/incoming"; val ckpt = s"$root/ckpt"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    Seq((10L, t1), (20L, t2), (30L, "solo unique words entirely different tokens"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$in/f0")
    Seq((5L, t1), (15L, t2))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$in/f1")
    // file-source micro-batch order follows modification time — force
    // f1 strictly later so batch ids (and merge direction) are stable
    new java.io.File(s"$in/f1").listFiles().foreach { f =>
      f.setLastModified(System.currentTimeMillis() + 60000)
    }
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    val q = ClusterMaintain.sink(stream, s"$root/store", ckpt)
    q.awaitTermination(120000)
    val got = ClusterMaintain.labels(spark, s"$root/store")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch 1's smaller ids pull both cluster minima backward (merges
    // 10->5 and 20->15 recorded by the foreachBatch ingest); the
    // singleton stays itself
    assert(got == Map(10L -> ((5L, 2L)), 5L -> ((5L, 2L)),
      20L -> ((15L, 2L)), 15L -> ((15L, 2L)), 30L -> ((30L, 1L))), s"got $got")
  }

  test("sink size-trigger: compaction fires mid-stream once the forest reaches the threshold") {
    import spark.implicits._
    val root = Files.createTempDirectory("cm_sizetrig").toString
    val in = s"$root/incoming"; val ckpt = s"$root/ckpt"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    Seq((10L, t1), (20L, t2)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f0")
    Seq((5L, t1), (15L, t2)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f1")   // merges 10->5, 20->15
    Seq((3L, t1)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f2")   // bridges t1's cluster to 3
    new java.io.File(s"$in/f1").listFiles().foreach(
      _.setLastModified(System.currentTimeMillis() + 60000))
    new java.io.File(s"$in/f2").listFiles().foreach(
      _.setLastModified(System.currentTimeMillis() + 120000))
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    val q = ClusterMaintain.sink(stream, s"$root/store", ckpt, compactAtEdges = 1L)
    q.awaitTermination(120000)
    val got = ClusterMaintain.labels(spark, s"$root/store")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(3L -> ((3L, 3L)), 5L -> ((3L, 3L)), 10L -> ((3L, 3L)),
      20L -> ((15L, 2L)), 15L -> ((15L, 2L))), s"got $got")
    // epoch 2's pre-ingest size check saw the two epoch-1 merges ≥ the
    // threshold and compacted them into the label store — the surviving
    // forest holds ONLY epoch 2's own bridge (5 -> 3); without the
    // trigger all three edges would be present
    assert(ClusterMaintain.forestEdges(spark, s"$root/store") == 1L,
      "size-triggered compaction did not fold the epoch-1 merges")
  }

  test("compaction: labels unchanged, forest gone, idempotent") {
    import spark.implicits._
    val root = Files.createTempDirectory("cm_compact").toString + "/store"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    ClusterMaintain.ingestBatch(batch(10L -> t1, 20L -> t2), root, 0L)
    ClusterMaintain.ingestBatch(batch(5L -> t1, 15L -> t2), root, 1L) // merges 10->5, 20->15
    ClusterMaintain.ingestBatch(batch(3L -> t1), root, 2L)            // merge 5->3 (chain)
    def labelMap() = ClusterMaintain.labels(spark, root)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = labelMap()
    // 4 edges: batch 1 records 10->5 and 20->15; batch 2 touches BOTH
    // stale labels of t1's cluster (10 and 5 are both probe hits) and
    // records 10->3 and 5->3 — every touched label gets a direct row
    val folded = ClusterMaintain.compactMerges(spark, root)
    assert(folded == 4L, s"expected 4 forest edges folded, got $folded")
    assert(labelMap() == before, "compaction changed resolved labels")
    // forest gone; every stored label row is now FINAL (self-resolved)
    assert(Manifest.state(spark, s"$root/merges").get.entries.isEmpty)
    val raw = Manifest.read(spark, s"$root/labels")
      .select(col("doc_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw == Map(10L -> 3L, 5L -> 3L, 3L -> 3L, 20L -> 15L, 15L -> 15L),
      s"labels not folded to final roots: $raw")
    // idempotent: a second compaction is a no-op
    assert(ClusterMaintain.compactMerges(spark, root) == 0L)
    assert(labelMap() == before)
  }

  test("broadcast guards at 0: the chain plus a compaction degrades to shuffled joins, same labels") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val batches = Seq(batch(10L -> t1, 20L -> t2), batch(30L -> t1, 40L -> t2),
      batch(5L -> t1, 15L -> t2), batch(3L -> t1))
    def chain(root: String, guard: Long): Map[Long, (Long, Long)] = {
      batches.zipWithIndex.foreach { case (b, i) =>
        ClusterMaintain.ingestBatch(b, root, i.toLong, maxBroadcastDocs = guard)
      }
      assert(ClusterMaintain.compactMerges(spark, root, maxBroadcastLabels = guard) > 0L)
      ClusterMaintain.labels(spark, root).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    val broadcastRun = chain(Files.createTempDirectory("cm_guard_b").toString + "/store",
      Dedup.maxBroadcastRows)
    // no size-based broadcast either, so any BroadcastHashJoin left in
    // the degraded run would come from a guard that did not degrade
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    // the broadcast run's last query events are still on the bus
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val degraded =
      try chain(Files.createTempDirectory("cm_guard_0").toString + "/store", 0L)
      finally {
        org.apache.spark.TestListenerBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
        spark.conf.set(key, saved)
      }
    assert(degraded == broadcastRun)
    val all = plans.toArray.map(_.toString)
    assert(all.exists(_.contains("SortMergeJoin")), "no shuffled join ran")
    val broadcasts = all.filter(_.contains("BroadcastHashJoin"))
    assert(broadcasts.isEmpty, broadcasts.mkString("\n"))
  }

  test("compaction: ingest after compacting equals ingest without, and new merges still resolve") {
    import spark.implicits._
    val rootA = Files.createTempDirectory("cm_cmpA").toString + "/store"
    val rootB = Files.createTempDirectory("cm_cmpB").toString + "/store"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    (0L to 1L).foreach { b =>
      val slice = docs.filter(col("doc_id") % 3 === b)
      ClusterMaintain.ingestBatch(slice, rootA, b)
      ClusterMaintain.ingestBatch(slice, rootB, b)
    }
    ClusterMaintain.compactMerges(spark, rootB)
    // batch 2 carries the corpus' SMALLEST ids modulo 3 ordering? No —
    // %3===2 ids interleave, so some clusters gain new minima: the
    // post-compaction ingest must both JOIN and BRIDGE existing clusters
    val last = docs.filter(col("doc_id") % 3 === 2)
    ClusterMaintain.ingestBatch(last, rootA, 2L)
    ClusterMaintain.ingestBatch(last, rootB, 2L)
    def labelSet(r: String) = ClusterMaintain.labels(spark, r)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val a = labelSet(rootA); val b = labelSet(rootB)
    assert(a == b, s"compacted-store ingest diverged: only-A=${(a -- b).take(5)} " +
      s"only-B=${(b -- a).take(5)}")
  }

  test("compaction: crash-replay of the epoch that compacts is exactly-once") {
    import spark.implicits._
    val root = Files.createTempDirectory("cm_cmpR").toString + "/store"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    (0L to 1L).foreach { b =>
      ClusterMaintain.ingestBatch(docs.filter(col("doc_id") % 3 === b), root, b)
    }
    // epoch 2 with compact-before-ingest (the sink's size-trigger shape)
    def epoch2(): Unit = {
      ClusterMaintain.compactMerges(spark, root)
      ClusterMaintain.ingestBatch(docs.filter(col("doc_id") % 3 === 2), root, 2L)
      ()
    }
    epoch2()
    val before = ClusterMaintain.labels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    epoch2() // crash-replay: compaction re-runs (idempotent) + re-ingest
    val after = ClusterMaintain.labels(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after.sameElements(before), "replayed compacting epoch changed labels")
  }

  test("property: random batches + random compaction points == one full CC run (micro-corpora)") {
    import spark.implicits._
    val rng = new scala.util.Random(20260816L)
    // 4 template token sets; each doc is a template ± one token — at
    // threshold 0.5 the templates cluster with their perturbations and
    // occasionally bridge, giving rich merge graphs. Scrambled ids
    // (7i mod 101, injective below 101) force backward-moving minima.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    val templates = Vector.fill(4)(
      (0 until 5).map(_ => vocab(rng.nextInt(vocab.size))).distinct)
    for (trial <- 1 to 3) {
      val docs = (1 to 24).map { i =>
        val t = templates(rng.nextInt(templates.size))
        val toks =
          if (rng.nextBoolean()) t
          else if (rng.nextBoolean()) t :+ vocab(rng.nextInt(vocab.size))
          else t.drop(1)
        (i.toLong * 7 % 101, toks.mkString(" "))
      }
      val root = Files.createTempDirectory(s"cm_prop$trial").toString + "/store"
      val nBatches = 3 + rng.nextInt(2)
      val per = math.ceil(docs.size.toDouble / nBatches).toInt
      rng.shuffle(docs).grouped(per).zipWithIndex.foreach { case (b, i) =>
        if (i > 0 && rng.nextBoolean())
          ClusterMaintain.compactMerges(spark, root)
        ClusterMaintain.ingestBatch(b.toDF("doc_id", "text"), root, i.toLong,
          threshold = 0.5)
      }
      val got = ClusterMaintain.labels(spark, root).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // ground truth: ONE full CC run over the complete pair graph of
      // the whole corpus (identical signature/band/verify pipeline)
      val dir = Files.createTempDirectory(s"cm_propd$trial").toString
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val comp = Dedup.connectedComponents(
          Dedup.minhashPairs(spark, dir, threshold = 0.5), "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = docs.map(_._1).map(id => id -> comp.getOrElse(id, id)).toMap
      assert(got == expected,
        s"trial $trial (nBatches=$nBatches): got $got expected $expected")
    }
  }

  // the crash matrix: one ingest commits the index, labels and merges
  // logs; one compactMerges commits labels, then the merges clear. Each
  // case arms the shared crashat:// FS to throw at the log rename of one
  // store, then checks the caller's error, that every store's head is
  // its old or its new snapshot, and that re-running the call ends equal
  // to a clean twin.
  private val stores = Seq("index", "labels", "merges")
  private val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val t2 = "one two three four five six seven eight nine ten"
  private def microBatch(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }
  // batch 1 pulls both clusters' minima backward (merges 10->5, 20->15);
  // batch 2 chains t1's cluster on to 3
  private def chain = Seq(microBatch(10L -> t1, 20L -> t2),
    microBatch(5L -> t1, 15L -> t2), microBatch(3L -> t1))

  private def heads(root: String): Map[String, Seq[String]] = stores.map { s =>
    s -> Manifest.read(spark, s"$root/$s").collect().map(_.toString).sorted.toSeq
  }.toMap
  private def labelSet(root: String) = ClusterMaintain.labels(spark, root)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** A fresh store root on crashat://, a local twin root, and the thunk
    * that arms the FS to throw at the rename committing a version of
    * `store`. */
  private def armedPair(tag: String, store: String): (String, String, () => Unit) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashat.impl", classOf[CrashAtFs].getName)
    val local = Files.createTempDirectory(tag).toString + "/store"
    val twin = Files.createTempDirectory(s"${tag}_twin").toString + "/store"
    val arm = () => {
      CrashAtFs.crashPath = _.toUri.getPath.startsWith(s"$local/$store/_graft_log/")
      CrashAtFs.crashOp = Some("rename")
    }
    (s"crashat://$local", twin, arm)
  }

  private def crashThenRerun(root: String, twin: String, arm: () => Unit)(
      call: String => Unit): Unit = {
    val before = heads(root)
    arm()
    val e = intercept[java.io.IOException](call(root))
    assert(e.getMessage == "injected crash at rename")
    assert(CrashAtFs.crashOp.isEmpty, "the call made no commit to the armed store")
    call(twin)
    val after = heads(twin)
    val torn = heads(root).filter { case (s, rows) => rows != before(s) && rows != after(s) }
    assert(torn.isEmpty, s"torn snapshots after the crash: ${torn.keys}")
    call(root)
    assert(heads(root) == after, "the re-run did not converge on the clean twin's stores")
    assert(labelSet(root) == labelSet(twin))
  }

  for (store <- stores) {
    test(s"crash matrix: an ingest failing at its $store commit leaves no torn store and re-runs clean") {
      val (root, twin, arm) = armedPair(s"cm_crash_ingest_$store", store)
      chain.take(2).zipWithIndex.foreach { case (b, i) =>
        ClusterMaintain.ingestBatch(b, root, i.toLong)
        ClusterMaintain.ingestBatch(b, twin, i.toLong)
      }
      crashThenRerun(root, twin, arm)(r => ClusterMaintain.ingestBatch(chain(2), r, 2L))
    }
  }

  for (store <- Seq("labels", "merges")) {
    test(s"crash matrix: a compactMerges failing at its $store commit leaves no torn store and re-runs clean") {
      val (root, twin, arm) = armedPair(s"cm_crash_compact_$store", store)
      chain.zipWithIndex.foreach { case (b, i) =>
        ClusterMaintain.ingestBatch(b, root, i.toLong)
        ClusterMaintain.ingestBatch(b, twin, i.toLong)
      }
      crashThenRerun(root, twin, arm) { r => ClusterMaintain.compactMerges(spark, r); () }
      assert(Manifest.state(spark, s"$root/merges").get.entries.isEmpty)
    }
  }

  test("plan: the stored-index probe keeps the corpus map-only (batch broadcast, no SMJ, ZERO exchanges)") {
    val docs = Tables.documents(spark, sf)
    val sigs = Dedup.signaturesFor(docs.filter(col("doc_id") % 3 === 2))
    val stored = Dedup.signaturesFor(docs.filter(col("doc_id") % 3 =!= 2))
    val plan = ClusterMaintain.candidateEdges(sigs, stored, 0.9)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the stored side flows scan -> band explode -> broadcast probe ->
    // verify with ZERO exchanges — candidate generation is map-only
    // (multi-band duplicate survivors are squashed downstream by the
    // fixpoint's map-side combine, not by a blocking distinct here)
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).size
    assert(exchanges == 0, s"expected 0 shuffle exchanges, got $exchanges\n$plan")
  }
}
