package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup
import graft.engine.Manifest

/** [[CorpusIngest]] on the manifest-committed table substrate — the same
  * near-duplicate-rejecting corpus build, with the directory-rename sinks
  * replaced by [[graft.engine.Manifest]] commits. What the substrate swap
  * buys, versus the directory-keyed variant's documented edges:
  *
  *  - **Snapshot isolation**: corpus readers resolve one manifest — they
  *    never see a half-written batch, with no absent-partition window and
  *    no debris sweep; a crashed batch's files are unreferenced garbage
  *    for [[Manifest.vacuum]].
  *  - **Version-keyed replay**: batch k commits EXACTLY manifest version
  *    k on both tables, so a redelivered epoch is detected by a version
  *    probe ([[Manifest.hasVersion]]) — no re-derivation needed at all
  *    when both commits landed.
  *  - **Exact decision basis by time travel**: batch k probes the index
  *    AT VERSION k-1. The directory variant filters `batch_id < k` to
  *    reconstruct what a replayed batch originally saw; here the old
  *    snapshot IS addressable, so the reconstruction is definitionally
  *    exact — including after later batches committed.
  *  - **All-rejected batches commit too**: version k with no fresh
  *    partitions (the directory variant needs an explicit
  *    clear-my-partitions delete). Progress is recorded; replay skips.
  *
  * Commit order is index-then-docs, so docs-at-version-k implies
  * index-at-version-k: a crash between the two leaves a replayable state
  * where the index commit is skipped and the admitted set is recomputed
  * against index version k-1 — the identical decision basis — then the
  * docs commit lands. Contract: batch ids are contiguous from 0 (what
  * `foreachBatch` epochs deliver) and doc_ids are globally unique.
  * Retention caveat (shared with Delta CDC consumers): replaying batch k
  * after later ingests needs index version k-1 still present — vacuum
  * with `keepVersions` covering the replay horizon.
  */
object CorpusIngestTx {

  /** Ingest one batch transactionally; returns the number of ADMITTED
    * documents (recounted from the committed snapshot when the whole
    * epoch was a replay). */
  def ingestBatch(batch: DataFrame, root: String, batchId: Long,
      threshold: Double = 0.9): Long = {
    val spark = batch.sparkSession
    val docsPath = s"$root/docs"
    val idxPath = s"$root/index"
    if (Manifest.hasVersion(spark, docsPath, batchId)) {
      // both commits landed (docs implies index): pure replay, skip
      return Manifest.read(spark, docsPath, Some(batchId))
        .filter(col("batch_id") === batchId).count()
    }
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
            CorpusIngest.indexSchema)
        else Manifest.read(spark, idxPath, Some(batchId - 1))
          .select("doc_id", "th", "sig")

      val rejected = CorpusIngest.rejectedIds(sigs, stored, threshold)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val admitted = batch.join(rejected, Seq("doc_id"), "left_anti")
          .withColumn("batch_id", lit(batchId))
        // index first: docs-committed implies index-committed. Each is a
        // version-k partition-replace — false = that half already landed
        // (crash-recovery replay), which is exactly the skip we want.
        Manifest.replacePartitionsVersioned(
          sigs.join(rejected, Seq("doc_id"), "left_anti")
            .withColumn("batch_id", lit(batchId)),
          idxPath, Seq("batch_id"), batchId)
        Manifest.replacePartitionsVersioned(admitted, docsPath,
          Seq("batch_id"), batchId)
        Manifest.read(spark, docsPath, Some(batchId))
          .filter(col("batch_id") === batchId).count()
      } finally rejected.unpersist()
    } finally sigs.unpersist()
  }

  /** Streaming form: each micro-batch epoch becomes manifest version
    * epoch-id on both tables inside `foreachBatch`. */
  def sink(docs: DataFrame, root: String, checkpoint: String,
      threshold: Double = 0.9, availableNow: Boolean = true): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, root, batchId, threshold); ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The admitted corpus — the live manifest snapshot (pass `version` for
    * the corpus as of an earlier epoch). */
  def corpus(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame =
    Manifest.read(spark, root + "/docs", version)
}
