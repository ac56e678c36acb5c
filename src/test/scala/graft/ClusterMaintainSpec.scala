package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode
import graft.dedup.Dedup
import graft.streaming.ClusterMaintain

/** Local-fs scheme for one [[ClusterMaintain.ingestBatch]] publishing its
  * three stores at once: the rename that publishes an `index` partition
  * fails (returns false, as Hadoop signals errors), while the one that
  * publishes a `labels` partition is held back and stamps when it is
  * done — so a spec can tell whether the index failure reached the
  * caller before the label publish finished. */
class HeldPublishFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("heldpub:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val publish = dst.getName.startsWith("batch_id=")
    dst.getParent.getName match {
      case "index" if publish => false
      case "labels" if publish =>
        Thread.sleep(1500)
        try super.rename(src, dst) finally HeldPublishFs.labelsDone = System.nanoTime()
      case _ => super.rename(src, dst)
    }
  }
}

object HeldPublishFs {
  @volatile var labelsDone = 0L
}

/** Pins [[graft.streaming.ClusterMaintain]] — incremental near-dup
  * cluster maintenance (round-11 brief #4). The pins, in order of
  * importance: (1) the incremental invariant — maintained labels equal
  * ONE full connected-components run over the complete MinHash pair
  * graph; (2) the merge mechanics on a deterministic micro-corpus
  * (backward-moving minimum, CHAINED merges that need transitive
  * resolution); (3) replay determinism under the batch-keyed stores;
  * (4) the 100 TB shape — the stored-index probe keeps the corpus side
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
    val raw = spark.read.parquet(s"$root/labels")
      .filter(col("batch_id") === 0L)
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
    assert(!graft.engine.Fs.exists(spark, s"$root/merges"))
    val raw = spark.read.parquet(s"$root/labels")
      .select(col("doc_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw == Map(10L -> 3L, 5L -> 3L, 3L -> 3L, 20L -> 15L, 15L -> 15L),
      s"labels not folded to final roots: $raw")
    // idempotent: a second compaction is a no-op
    assert(ClusterMaintain.compactMerges(spark, root) == 0L)
    assert(labelMap() == before)
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
    // epoch 2 with compact-before-ingest (the sink's compactEvery shape)
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

  test("a failing publish reaches the caller only after its sibling publishes finish, leaving no staging dirs") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.heldpub.impl", classOf[HeldPublishFs].getName)
    val local = Files.createTempDirectory("cm_pubfail").toString + "/store"
    val batch = Seq(10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      20L -> "one two three four five six seven eight nine ten").toDF("doc_id", "text")
    HeldPublishFs.labelsDone = 0L
    val e = intercept[java.io.IOException](
      ClusterMaintain.ingestBatch(batch, s"heldpub://$local", 0L))
    val caught = System.nanoTime()
    assert(e.getMessage.contains("could not publish partition batch_id=0"), e.getMessage)
    assert(HeldPublishFs.labelsDone != 0L && HeldPublishFs.labelsDone <= caught,
      "the index failure surfaced while the label publish was still writing")
    assert(Files.exists(java.nio.file.Paths.get(s"$local/labels/batch_id=0")))
    for (store <- Seq("index", "labels", "merges")) {
      val dir = new java.io.File(s"$local/$store")
      val debris = Option(dir.list()).toSeq.flatten.filter(_.startsWith("_staging-"))
      assert(debris.isEmpty, s"$store keeps $debris")
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
