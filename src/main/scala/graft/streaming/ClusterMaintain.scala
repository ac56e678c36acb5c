package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.dedup.Dedup
import graft.engine.{Fs, Layers, Par}

/** Incremental near-duplicate CLUSTER maintenance — the streaming
  * companion to [[graft.dedup.Dedup.dedupIncremental]] (round-11 brief
  * #4): cluster labels over the MinHash near-dup graph are maintained
  * batch-by-batch as documents arrive, instead of re-running the
  * connected-components fixpoint over the full corpus per ingest.
  * Mirrors the reference's incremental-extract philosophy
  * (`dags/utils/extract_load_template.py:126-159` — process only the
  * new slice against persistent state) applied to the dedup family.
  *
  * Layout under `root`:
  *  - `index/batch_id=N/`  (doc_id, th, sig) MinHash signatures of ALL
  *    batch-N docs — the LSH index future batches probe
  *  - `labels/batch_id=N/` (doc_id, label) labels assigned to batch-N
  *    docs at ingest time
  *  - `merges/batch_id=N/` (old_label, new_label) cluster merges batch
  *    N caused — the union-find forest, kept as data
  *
  * The incremental invariant (induction over batches): a stored label,
  * resolved through the merge chain, is ALWAYS the minimum doc_id of
  * its current component. A new batch can only (a) start new clusters,
  * (b) join existing ones, or (c) BRIDGE existing clusters — and a
  * bridge is recorded as a merge edge `old_root -> new_component_min`
  * instead of rewriting the old members' label rows. Resolving reads
  * therefore never rewrite corpus-scale state, and the maintained
  * labels equal a full [[graft.dedup.Dedup.connectedComponents]] run
  * over the complete pair graph (every cross-batch pair is discovered
  * when its LATER member's batch probes the stored index; every
  * in-batch pair by the batch self-join — so the edge set is identical;
  * spec-pinned equal on the fixture).
  *
  * Scale shape — the reason this exists at 100 TB:
  *  - per-batch SHUFFLED data is batch + survivor scale only; the
  *    stored index is scanned map-only into a broadcast probe
  *    (plan-pinned, same discipline as dedupIncremental), and the label
  *    store is scanned map-only against a broadcast of the touched docs;
  *  - the per-batch fixpoint runs over the batch graph + touched ROOTS
  *    (one node per touched cluster), never the corpus;
  *  - the merge forest is cluster-event scale (bounded by the number of
  *    clusters ever merged, not docs); resolution is a fixpoint over
  *    THAT relation only ([[graft.dedup.Dedup.connectedComponents]] on
  *    merge edges — min-label over a merge chain is exactly its
  *    transitive resolution). Over the table's LIFETIME the forest
  *    grows monotonically — [[compactMerges]] folds it into the label
  *    store at a batch boundary so per-ingest cost stays flat in the
  *    number of historical merges.
  *
  * Exactly-once: all three stores are batch-keyed partition replaces
  * ([[graft.engine.Layers.replacePartitionsPath]]), and a batch reads
  * only strictly-earlier partitions — a replayed batch re-derives its
  * original output bit-for-bit (the [[CorpusIngest]] replay contract).
  * Caller contract: doc_ids globally unique; batch_ids dense-ordered.
  */
object ClusterMaintain {

  private[streaming] def labelSchema: StructType = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("label", LongType, nullable = false)

  private[streaming] def mergeSchema: StructType = new StructType()
    .add("old_label", LongType, nullable = false)
    .add("new_label", LongType, nullable = false)

  /** ALL candidate edges of one batch in ONE band join: the probe side
    * is (stored groups ∪ batch groups, flagged `in_batch`) scanned
    * MAP-ONLY (band keys + carried token arrays are per-row expressions
    * inside the scan task), the batch band index arrives by broadcast
    * when `broadcastBatch`, and candidates verify once through the
    * shared exact-jaccard gate. Running cross-batch and in-batch legs as
    * separate joins was measured ~1 s/batch of duplicated band explode +
    * verify at sf0.1 — the union fuses them for free because the
    * in-batch leg is just `cdoc < bdoc` on the flagged rows. Output:
    * (bdoc, cdoc, in_batch), MAP-ONLY end to end (zero exchanges): a
    * pair colliding in k bands appears k ≤ B times, and every consumer
    * tolerates duplicates — the fixpoint's reduceByKey squashes them
    * map-side (the same partial-agg work a distinct would do, without
    * the blocking exchange), the label probe's min is dup-invariant,
    * and newMerges carries its own distinct. A survivor-scale distinct
    * here was the ingest's only candidate-path exchange; dropping it
    * saved ~0.15 s of fixed DAG cost per batch at sf0.1 for ≤B×
    * survivor-row inflation. Factored out so the plan is pinnable. */
  private[graft] def candidateEdges(gsig: DataFrame, stored: DataFrame,
      threshold: Double, broadcastBatch: Boolean = true): DataFrame = {
    val probeSrc = stored.withColumn("in_batch", lit(false))
      .unionByName(gsig.withColumn("in_batch", lit(true)))
    val pBands = Dedup.bandRows(probeSrc.withColumnRenamed("th", "th_a"),
        carry = Seq("th_a", "in_batch"))
      .withColumnRenamed("doc_id", "cdoc")
    val bBands = Dedup.bandRows(gsig.withColumnRenamed("th", "th_b"),
        carry = Seq("th_b"))
      .withColumnRenamed("doc_id", "bdoc")
    val probe =
      if (broadcastBatch) pBands.join(broadcast(bBands), Seq("band", "k1", "k2", "k3", "k4"))
      else pBands.join(bBands, Seq("band", "k1", "k2", "k3", "k4"))
    Dedup.jaccardAtLeast(
        probe.filter(!col("in_batch") || col("cdoc") < col("bdoc")),
        "th_a", "th_b", threshold)
      .select(col("bdoc"), col("cdoc"), col("in_batch"))
  }

  /** Resolve labels through a merge-edge relation: min-label connected
    * components over the merge forest IS its transitive resolution
    * (every merge target is its component's min at merge time, so the
    * component min over the chain is the current root). Returns
    * (`__l`, `__final`); labels absent from the forest are final. */
  private def mergeResolution(merges: DataFrame): DataFrame =
    Dedup.connectedComponents(merges, "old_label", "new_label")
      .select(col("node").as("__l"), col("component").as("__final"))

  private def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType, beforeBatch: Long): DataFrame =
    if (Fs.exists(spark, path))
      spark.read.schema(schema.add("batch_id", LongType)).parquet(path)
        .filter(col("batch_id") < beforeBatch)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Ingest one batch, maintaining labels incrementally. Returns the
    * number of batch docs. `maxBroadcastDocs` is the dedupIncremental
    * guard applied to both broadcast legs (batch band index, touched-doc
    * semi-join): above it the probe degrades loudly to shuffled joins —
    * same labels, the map-only promise traded for not OOMing.
    *
    * Per-ingest job floor (round-12 brief #5): an ingest is a ~15-job
    * composite whose fixed DAG costs dominate at small batch sizes, so
    * the driver-side shape matters — (a) the batch COUNT runs on the
    * raw relation (no signature work; signatures materialize once, at
    * the group-contraction checkpoint), (b) the broadcast guard
    * short-circuits on the raw count (`nGroups ≤ n` always — the group
    * count job only runs when the raw count alone can't prove the
    * guard), and (c) the three store publishes run CONCURRENTLY through
    * [[graft.engine.Par]]: the index publish depends only on the
    * contraction and overlaps the whole candidate + fixpoint chain; the
    * label and merge publishes overlap each other. A failure anywhere
    * surfaces only after every publish already started has finished, so
    * no writer outlives the call (a replay racing one would meet a live
    * `_staging-*` dir that the single-writer sweep of
    * [[graft.engine.Layers.replacePartitionsAtomic]] treats as crash
    * debris). Publish order never mattered for the
    * exactly-once contract — a replayed batch overwrites all three
    * batch-keyed partitions idempotently, and no reader consumes
    * batch-N partitions during ingest N (single-writer, readers see
    * strictly-earlier batches only). Measured 3.0 → 2.0 s/batch at
    * sf0.1/local[32]. */
  def ingestBatch(batch: DataFrame, root: String, batchId: Long,
      threshold: Double = 0.9, maxBroadcastDocs: Long = 500000L): Long = {
    val spark = batch.sparkSession
    val n = batch.select(col("doc_id")).count()
    val idxPath = s"$root/index"
    val labPath = s"$root/labels"
    val mrgPath = s"$root/merges"
    if (n == 0) {
      Seq(idxPath, labPath, mrgPath)
        .foreach(p => Fs.deleteDir(spark, s"$p/batch_id=$batchId"))
      return 0L
    }
    // TOKEN-SET CONTRACTION (the dedupIncremental bGroups discipline —
    // skipping it was measured at 537k edges for a 1.7k-doc batch on
    // this fixture's clone-heavy corpus, 4–5 s of fixpoint per batch):
    // identical token sets are a jaccard-1 clique, so one REP node per
    // distinct set carries the group through banding, probe, verify AND
    // the fixpoint; members expand only at label assignment. `sig` is a
    // pure function of `th`, so first() within the group is
    // deterministic. Empty-token docs can never match anything (jaccard
    // is 0/0) — they stay out of the pair machinery entirely and label
    // themselves at the end, NOT contracted into one false group.
    val groups = Dedup.signaturesFor(batch).filter(size(col("th")) > 0)
      .groupBy(col("th"))
      .agg(min(col("doc_id")).as("doc_id"),
        collect_list(col("doc_id")).as("mem"),
        first(col("sig")).as("sig"))
      .localCheckpoint(true)
    val gsig = groups.select(col("doc_id"), col("th"), col("sig"))
    val broadcastOk = n <= maxBroadcastDocs || {
      val nGroups = groups.count()
      val ok = nGroups <= maxBroadcastDocs
      if (!ok)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ClusterMaintain: $nGroups distinct batch token sets exceed " +
            s"maxBroadcastDocs=$maxBroadcastDocs — degrading to shuffled probe joins")
      ok
    }
    // the stored index is GROUP rows of prior batches (one per distinct
    // token set) — the probe surface a clone-heavy corpus wants. Read
    // (and its eager file listing) happens BEFORE the index publish
    // launches: on a batch replay the publish atomically replaces this
    // path's batch_id=N partition, and a concurrent recursive listing
    // can catch the rename window as a transient FileNotFoundException —
    // in exactly the replay path the exactly-once contract covers. The
    // read excludes batch_id=N rows anyway, so ordering it first costs
    // nothing.
    val stored = readOrEmpty(spark, idxPath, CorpusIngest.indexSchema, batchId)
    // the index publish needs only the contraction — it runs beside the
    // entire candidate + fixpoint chain and that chain's two publishes
    val idxPub = () => Layers.replacePartitionsPath(
      gsig.withColumn("batch_id", lit(batchId)), idxPath, Seq("batch_id"))
    Par.run(idxPub, () => {
      // survivor-scale; feeds the touched-set, the graph and the merge legs
      val cand = candidateEdges(gsig, stored, threshold, broadcastOk).localCheckpoint(true)
      val cross = cand.filter(!col("in_batch"))
      val inB = cand.filter(col("in_batch"))
        .select(col("cdoc").as("bdoc"), col("bdoc").as("bdoc2"))
      // touched corpus groups -> their stored labels: the label store
      // scans MAP-ONLY against the broadcast survivor set. Labels arrive
      // UNRESOLVED — the prior merge forest rides into the component
      // graph as EDGES below, so stale-chain resolution happens inside
      // the one fixpoint instead of in a second one (a separate per-batch
      // mergeResolution fixpoint was measured ~0.4 s of pure fixed cost;
      // CC-based resolution only needs SOME path from each stale label to
      // the current min, so recording the touched labels' new components
      // as merge rows keeps every future resolution correct without ever
      // rewriting old rows). Checkpointed: feeds the graph leg and the
      // new-merge leg.
      val labStored = readOrEmpty(spark, labPath, labelSchema, batchId)
      val crossLab = {
        val c = cross.select(col("bdoc"), col("cdoc"))
        val probe = if (broadcastOk) broadcast(c) else c
        labStored.join(probe, labStored("doc_id") === probe("cdoc"))
          .select(col("bdoc"), col("label")).localCheckpoint(true)
      }
      val priorMerges = readOrEmpty(spark, mrgPath, mergeSchema, batchId)
      // the per-batch component graph: batch group reps + ONE node per
      // touched cluster label + the (cluster-event-scale) merge forest —
      // never the corpus. REBALANCE before the fixpoint: the legs are
      // broadcast-join outputs arriving over the SCAN's partitioning, so
      // the RDD loop would otherwise inherit dozens of near-empty
      // partitions as its HashPartitioner width, paying rounds × stages ×
      // empty-task scheduling; one survivor-scale AQE-coalesced shuffle
      // right-sizes the loop to the data.
      val edges = inB.select(col("bdoc").as("a"), col("bdoc2").as("b"))
        .unionAll(crossLab.select(col("bdoc").as("a"), col("label").as("b")))
        .unionAll(priorMerges.select(col("old_label").as("a"), col("new_label").as("b")))
        .hint("rebalance")
      val comp = Dedup.connectedComponents(edges, "a", "b") // checkpointed
      // expand reps back to members: a group is a clique, so every member
      // shares the rep's component (or the rep itself when untouched);
      // empty-token docs have no rep and label themselves
      val memRep = groups.select(col("doc_id").as("__rep"), explode(col("mem")).as("__m"))
      val batchLabels = batch.select(col("doc_id"))
        .join(memRep, col("doc_id") === col("__m"), "left")
        .join(comp.withColumnRenamed("node", "__n"), col("__rep") === col("__n"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("__rep"), col("doc_id")).as("label"))
      // bridged clusters: a touched stored label whose component moved —
      // one row (label -> new component min) is enough for all future
      // CC-based resolutions, including of stale chain interiors
      val newMerges = crossLab.select(col("label")).distinct()
        .join(comp, col("label") === col("node"))
        .filter(col("component") =!= col("label"))
        .select(col("label").as("old_label"), col("component").as("new_label"))
        .distinct()
      // exactly-once batch-keyed publishes, label and merge legs
      // concurrent (both derive from the checkpointed fixpoint); empty
      // merge sets clear their partition explicitly via delete-then-write
      // (an empty frame carries no partitions, so the delete IS the
      // empty-case cleanup — one fs metadata op vs one extra Spark job)
      Par.run(
        () => Layers.replacePartitionsPath(
          batchLabels.withColumn("batch_id", lit(batchId)), labPath, Seq("batch_id")),
        () => {
          Fs.deleteDir(spark, s"$mrgPath/batch_id=$batchId")
          Layers.replacePartitionsPath(
            newMerges.withColumn("batch_id", lit(batchId)), mrgPath, Seq("batch_id"))
        })
    })
    n
  }

  /** Current cluster labels for every ingested doc: ONE map-only scan of
    * the label store, remapped through the (cluster-event-scale) merge
    * forest — the full-corpus fixpoint never re-runs. Output matches
    * [[graft.dedup.Dedup.nearDupClusters]] shape:
    * (doc_id, cluster_id, cluster_size). */
  def labels(spark: SparkSession, root: String): DataFrame = {
    val lab = readOrEmpty(spark, s"$root/labels", labelSchema, Long.MaxValue)
    val assigned =
      if (Fs.exists(spark, s"$root/merges")) {
        val fin = mergeResolution(
          readOrEmpty(spark, s"$root/merges", mergeSchema, Long.MaxValue))
        lab.join(fin, col("label") === col("__l"), "left")
          .select(col("doc_id"), coalesce(col("__final"), col("label")).as("cluster_id"))
      } else lab.select(col("doc_id"), col("label").as("cluster_id"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** COMPACT the merge forest (round-12 verdict #3: `priorMerges` rides
    * into EVERY per-batch fixpoint and grows monotonically with lifetime
    * cluster-merge events). Folds the forest's transitive resolutions
    * into the label store — each batch-keyed label partition is
    * rewritten MAP-ONLY (the forest resolution is cluster-event scale
    * and broadcast-attaches; above `maxBroadcastLabels` forest edges it
    * degrades loudly to a shuffled join) — then deletes the forest.
    * After compaction the per-batch fixpoint input is batch + touched
    * roots ONLY: per-ingest cost is flat in the number of PRIOR merges
    * (ScaleProbe `streaming_compact` family), at the amortized price of
    * one label-store rewrite per compaction.
    *
    * Crash-safety (the replay/exactly-once contract is preserved):
    *  1. every label partition is rewritten with resolved labels via
    *     [[graft.engine.Layers.replacePartitionsPath]] — atomic per
    *     partition; a crash mid-way leaves a MIX of resolved and stale
    *     partitions, which is safe while the forest is intact because
    *     resolution is idempotent (resolving an already-final label is
    *     the identity);
    *  2. only after ALL partitions are rewritten is the forest deleted.
    *     A crash mid-delete leaves leftover edges that are strictly
    *     intra-component (a merge edge never links two distinct final
    *     components), so a later fixpoint re-resolves them to the same
    *     roots they already carry.
    *
    * Call at a batch boundary with every ingested batch committed —
    * e.g. [[sink]]'s `compactEvery` runs it inside `foreachBatch`
    * BEFORE the epoch's ingest, so a crash-replay of that epoch re-runs
    * the (idempotent) compaction and then re-derives the ingest from
    * the same resolved basis. Batches ingested AFTER a compaction read
    * label rows that are already final — equivalent inputs, identical
    * outputs (spec-pinned). Returns the number of forest edges folded. */
  def compactMerges(spark: SparkSession, root: String,
      maxBroadcastLabels: Long = 500000L): Long = {
    val mrgPath = s"$root/merges"
    val labPath = s"$root/labels"
    if (!Fs.exists(spark, mrgPath)) return 0L
    val forest = readOrEmpty(spark, mrgPath, mergeSchema, Long.MaxValue)
      .localCheckpoint(true)
    val nEdges = forest.count()
    if (nEdges == 0L) { Fs.deleteDir(spark, mrgPath); return 0L }
    val fin = mergeResolution(forest)
    val finSide = if (nEdges <= maxBroadcastLabels) broadcast(fin) else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"compactMerges: $nEdges forest edges exceed maxBroadcastLabels=" +
          s"$maxBroadcastLabels — degrading to a shuffled resolution join")
      fin
    }
    val lab = spark.read.schema(labelSchema.add("batch_id", LongType))
      .parquet(labPath)
    val resolved = lab.join(finSide, col("label") === col("__l"), "left")
      .select(col("doc_id"),
        coalesce(col("__final"), col("label")).as("label"), col("batch_id"))
    Layers.replacePartitionsPath(resolved, labPath, Seq("batch_id"))
    Fs.deleteDir(spark, mrgPath)
    nEdges
  }

  /** The `dedup_streaming` query surface: replay the documents table as
    * `nBatches` arrival batches (doc_id mod `nBatches`, so later batches
    * carry SMALLER ids than earlier ones — exercising the
    * min-moves-backward merge path), maintaining the cluster store
    * incrementally, then read the resolved labels. Output equals a full
    * connected-components run over the complete MinHash pair graph
    * (the incremental invariant; the DuckDB oracle recomputes exactly
    * that, and `ClusterMaintainSpec` pins equality against
    * [[graft.dedup.Dedup.connectedComponents]] on
    * [[graft.dedup.Dedup.minhashPairs]]).
    *
    * Default 2 batches: each ingest is a ~20-job composite (signature +
    * contraction + probe + fixpoint + three store publishes), measured
    * ~2.4 s of fixed cost per batch at sf0.1/local[32] — the bench entry
    * exercises probe, in-batch, backward-merge and store-replay at 2;
    * the 3-batch CHAIN path (merge-of-merge resolution) is pinned by
    * `ClusterMaintainSpec` at sf0.001 and by the deterministic
    * micro-corpus test. */
  def streamingClusters(spark: SparkSession, dir: String,
      nBatches: Int = 2, threshold: Double = 0.9): DataFrame = {
    val root = Fs.scratch("graft_cluster_maintain", dir)
    Fs.deleteDir(spark, root)
    val docs = graft.Tables.documents(spark, dir)
    (0L until nBatches.toLong).foreach { b =>
      ingestBatch(docs.filter(col("doc_id") % nBatches === b), root, b, threshold)
    }
    labels(spark, root).orderBy(col("doc_id"))
  }

  /** Current merge-forest size — one footer-metadata count over the
    * (cluster-event-scale) merges store; 0 when absent. */
  private[graft] def forestEdges(spark: SparkSession, root: String): Long =
    if (Fs.exists(spark, s"$root/merges"))
      spark.read.schema(mergeSchema.add("batch_id", LongType))
        .parquet(s"$root/merges").count()
    else 0L

  /** Streaming form: each micro-batch maintains the cluster store via
    * [[ingestBatch]] keyed by its epoch id — checkpoint replay is
    * idempotent through the batch-keyed sinks.
    *
    * Compaction cadence (round-13 verdict #6, measured — BASELINE.md
    * "compaction cadence" table): the default is SIZE-TRIGGERED, not
    * scheduled — before an epoch's ingest the forest edge count (one
    * footer-metadata job over the cluster-event-scale merges store) is
    * compared against `compactAtEdges`, and [[compactMerges]] runs when
    * it's reached. The threshold default (2 000) is the smallest swept
    * point of the sf0.1 chain-forest probe, where compaction (2.3 s)
    * already repays itself within ONE batch (per-batch forest tax
    * 4.1 s) — i.e. by the time the trigger fires, compacting is
    * strictly cheaper than carrying the forest even once. 0 disables.
    * `compactEvery = k > 0` additionally forces every k-th epoch (the
    * fixed-cadence lever, kept for operators who want determinism).
    * Replay note: a crash-replayed epoch may see the already-compacted
    * store and skip the trigger its first attempt took — harmless, as
    * compaction is semantics-preserving and idempotent (labels resolve
    * identically either way; spec-pinned equivalence), and the ingest
    * itself stays batch-keyed exactly-once. */
  def sink(docs: DataFrame, root: String, checkpoint: String,
      threshold: Double = 0.9, availableNow: Boolean = true,
      compactEvery: Int = 0, compactAtEdges: Long = 2000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val writer = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val due = batchId > 0 &&
          ((compactEvery > 0 && batchId % compactEvery == 0) ||
            (compactAtEdges > 0 && forestEdges(spark, root) >= compactAtEdges))
        if (due) compactMerges(spark, root)
        ingestBatch(batch, root, batchId, threshold); ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
