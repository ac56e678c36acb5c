package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup
import graft.engine.Manifest

/** Incremental corpus ingestion with near-duplicate REJECTION — the
  * composite a production training-data pipeline actually runs: documents
  * arrive in (micro-)batches, and a document is admitted only if it is
  * not a near-duplicate of anything already ADMITTED (prior batches) or
  * of an earlier document in its own batch. Composes the MinHash+LSH
  * machinery ([[graft.dedup.Dedup]]) with [[graft.engine.Manifest]]
  * commits named by the batch id.
  *
  * Two manifest tables under `root`, both partitioned by `batch_id`:
  *  - `docs`  admitted documents
  *  - `index` their (doc_id, th, sig) MinHash signatures — the
  *    persistent LSH index future batches probe
  *
  * Scale shape: each batch computes signatures once, probes the stored
  * index through the band-bucket equi-join (never all-pairs), and
  * verifies candidates with the codegen'd merge-scan intersect. Within a
  * batch the smaller doc_id wins deterministically.
  *
  *  - **Snapshot isolation**: corpus readers resolve one manifest — they
  *    never see a half-written batch; a crashed batch's files are
  *    unreferenced garbage for [[graft.engine.Manifest.vacuum]].
  *  - **Version-keyed replay**: batch k commits EXACTLY manifest version
  *    k on both tables, so a redelivered epoch is detected by a version
  *    probe ([[graft.engine.Manifest.hasVersion]]) and skipped.
  *  - **Exact decision basis by time travel**: batch k probes the index
  *    AT VERSION k-1, so any replay (also of an older batch after later
  *    ones committed) sees exactly what the original attempt saw.
  *  - **All-rejected batches commit too**: version k with no fresh
  *    partitions. Progress is recorded; replay skips.
  *
  * Commit order is index-then-docs, so docs-at-version-k implies
  * index-at-version-k: a crash between the two leaves a replayable state
  * where the index commit is skipped and the admitted set is recomputed
  * against index version k-1 — the identical decision basis — then the
  * docs commit lands. Contract: batch ids are contiguous from 0 (what
  * streaming epochs deliver) and doc_ids are globally unique.
  * Retention caveat (shared with Delta CDC consumers): replaying batch k
  * after later ingests needs index version k-1 still present — vacuum
  * with `keepVersions` covering the replay horizon.
  *
  * Rejection is conservative on in-batch chains (A<B<C, B≈A, C≈B but
  * C≉A still rejects C): admission tests against all SMALLER-id batch
  * docs, admitted or not — one pass, no iteration; the alternative
  * (cluster-then-pick) is [[graft.dedup.Dedup.nearDupClusters]].
  */
object CorpusIngest {

  private[streaming] def indexSchema: StructType = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("th", ArrayType(LongType), nullable = true)
    .add("sig", ArrayType(LongType), nullable = true)

  /** Doc_ids of `sigs` rejected as near-dups of the `stored` index or of a
    * smaller-id document in their own batch: band-bucket candidate join
    * (never all-pairs) + exact jaccard verify — the admission decision.
    * Caller persists/unpersists the returned frame (it feeds both
    * commits). */
  private[streaming] def rejectedIds(sigs: DataFrame, stored: DataFrame,
      threshold: Double): DataFrame = {
    val newBands = Dedup.bandRows(sigs)
    val storedBands = Dedup.bandRows(stored)
      .withColumnsRenamed(Map("doc_id" -> "ref_id"))
    // candidates vs the admitted index (any id) + vs earlier batch docs
    val candStored = newBands.join(storedBands, Seq("band", "k1", "k2", "k3", "k4"))
      .select(col("doc_id"), col("ref_id"))
    val candBatch = newBands
      .join(newBands.withColumnsRenamed(Map("doc_id" -> "ref_id")),
        Seq("band", "k1", "k2", "k3", "k4"))
      .filter(col("ref_id") < col("doc_id"))
      .select(col("doc_id"), col("ref_id"))
    val cand = candStored.unionAll(candBatch).distinct()

    // exact jaccard verify on full token-hash sets (references resolve
    // from the stored index or the batch itself) — the SAME gate as the
    // batch pair generators (Dedup.jaccardAtLeast), so admission and
    // pair semantics cannot drift apart
    val refTh = stored.select(col("doc_id").as("ref_id"), col("th").as("ref_th"))
      .unionByName(sigs.select(col("doc_id").as("ref_id"), col("th").as("ref_th")))
    Dedup.jaccardAtLeast(
        cand.join(sigs.select(col("doc_id"), col("th")), "doc_id").join(refTh, "ref_id"),
        "th", "ref_th", threshold)
      .select(col("doc_id")).distinct()
  }

  /** Ingest one batch as manifest version `batchId` of both tables;
    * returns the number of ADMITTED documents, counted from the
    * committed docs snapshot (so a replayed epoch reports the original
    * count without recomputing it). */
  def ingestBatch(batch: DataFrame, root: String, batchId: Long,
      threshold: Double = 0.9): Long = {
    val spark = batch.sparkSession
    val docsPath = s"$root/docs"
    val idxPath = s"$root/index"
    // docs at version k implies index at version k: a pure replay skips
    // straight to the count
    if (!Manifest.hasVersion(spark, docsPath, batchId)) {
      require(batchId == 0 || Manifest.hasVersion(spark, idxPath, batchId - 1),
        s"batch $batchId needs index version ${batchId - 1} (contiguous epochs; " +
          "not vacuumed past the replay horizon)")
      val sigs = Dedup.signaturesFor(batch).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // the EXACT original decision basis, even when later batches have
        // since committed: the index snapshot as of the previous epoch
        val stored =
          if (batchId == 0)
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              indexSchema)
          else Manifest.read(spark, idxPath, Some(batchId - 1))
            .select("doc_id", "th", "sig")
        // the tiny rejected-id set persists: it feeds both commits, and
        // the band joins behind it are the expensive stage
        val rejected = rejectedIds(sigs, stored, threshold)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // index first: docs-committed implies index-committed. Each is
          // a version-k partition replace — false = that half already
          // landed (crash-recovery replay), which is exactly the skip
          Manifest.replacePartitionsVersioned(
            sigs.join(rejected, Seq("doc_id"), "left_anti")
              .withColumn("batch_id", lit(batchId)),
            idxPath, Seq("batch_id"), batchId)
          Manifest.replacePartitionsVersioned(
            batch.join(rejected, Seq("doc_id"), "left_anti")
              .withColumn("batch_id", lit(batchId)),
            docsPath, Seq("batch_id"), batchId)
        } finally rejected.unpersist()
      } finally sigs.unpersist()
    }
    Manifest.read(spark, docsPath, Some(batchId))
      .filter(col("batch_id") === batchId).count()
  }

  /** Streaming form: micro-batch epoch k runs [[ingestBatch]] as batch k. */
  def sink(docs: DataFrame, root: String, checkpoint: String,
      threshold: Double = 0.9, availableNow: Boolean = true): StreamingQuery =
    EpochSink.start(docs, checkpoint, availableNow) { (batch, epoch) =>
      ingestBatch(batch, root, epoch, threshold); ()
    }

  /** The admitted corpus — the live manifest snapshot (pass `version` for
    * the corpus as of an earlier epoch). */
  def corpus(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame =
    Manifest.read(spark, s"$root/docs", version)
}
