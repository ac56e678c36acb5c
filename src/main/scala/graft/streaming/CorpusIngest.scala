package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup
import graft.engine.{Fs, Layers}

/** Incremental corpus ingestion with near-duplicate REJECTION — the
  * composite a production training-data pipeline actually runs: documents
  * arrive in (micro-)batches, and a document is admitted only if it is
  * not a near-duplicate of anything already ADMITTED (prior batches) or
  * of an earlier document in its own batch. Composes the MinHash+LSH
  * machinery ([[graft.dedup.Dedup]]) with the exactly-once batch-keyed
  * sink ([[graft.engine.Layers.replacePartitionsPath]]).
  *
  * Layout under `root`:
  *  - `docs/batch_id=N/`  admitted documents
  *  - `index/batch_id=N/` their (doc_id, th, sig) MinHash signatures —
  *    the persistent LSH index future batches probe
  *
  * Scale shape: each batch computes signatures once, probes the stored
  * index through the band-bucket equi-join (never all-pairs), verifies
  * candidates with the codegen'd merge-scan intersect, and appends via
  * the atomic batch-keyed partition publish — so a replayed batch
  * REPLACES its own partitions (exactly-once under at-least-once
  * delivery), and admission decisions are reproducible: within a batch,
  * the smaller doc_id wins deterministically. Replay determinism holds
  * for ANY redelivered batch_id, not only the most recent: a batch
  * probes only strictly earlier batches' index partitions, so an older
  * batch redelivered after later batches were ingested re-derives its
  * original admitted set bit-for-bit (later batches' admission of docs
  * near-dup to it is unaffected — they tested against its index
  * output, which the replay reproduces).
  *
  * Rejection is conservative on in-batch chains (A<B<C, B≈A, C≈B but
  * C≉A still rejects C): admission tests against all SMALLER-id batch
  * docs, admitted or not — one pass, no iteration; the alternative
  * (cluster-then-pick) is [[graft.dedup.Dedup.nearDupClusters]]. Caller
  * contract: doc_ids are globally unique across batches.
  */
object CorpusIngest {

  private[streaming] def indexSchema: StructType = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("th", ArrayType(LongType), nullable = true)
    .add("sig", ArrayType(LongType), nullable = true)

  /** Doc_ids of `sigs` rejected as near-dups of the `stored` index or of a
    * smaller-id document in their own batch: band-bucket candidate join
    * (never all-pairs) + exact jaccard verify — the decision core shared
    * by the directory-keyed and manifest-committed ingest variants.
    * Caller persists/unpersists the returned frame (it feeds the count
    * and both sinks). */
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

  /** Ingest one batch; returns the number of ADMITTED documents. */
  def ingestBatch(batch: DataFrame, root: String, batchId: Long,
      threshold: Double = 0.9): Long = {
    val spark = batch.sparkSession
    val sigs = Dedup.signaturesFor(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val idxPath = s"$root/index"
      // a REPLAYED batch must probe exactly the index it saw originally:
      // only strictly EARLIER batches. Including == batchId would
      // self-reject every doc after a crash-after-write; including
      // > batchId (batches ingested after this one's original attempt)
      // would shrink an out-of-order redelivery's admitted set — the
      // replay would probe a larger index than the original run and
      // silently drop docs it once admitted. `< batchId` restores the
      // original decision basis exactly, for ANY redelivered batch, not
      // just the most recent one; partition pruning makes the exclusion
      // a directory skip. The schema is EXPLICIT: after a crash
      // mid-staging the dir exists but holds only underscore debris, and
      // schema inference would throw on every replay — wedging the
      // recovery path for good.
      val stored =
        if (Fs.exists(spark, idxPath))
          spark.read.schema(indexSchema.add("batch_id", LongType)).parquet(idxPath)
            .filter(col("batch_id") < batchId)
            .select("doc_id", "th", "sig")
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexSchema)

      // the tiny rejected-id set persists: it feeds the count and both
      // sinks, and the band joins behind it are the expensive stage
      val rejected = rejectedIds(sigs, stored, threshold)
        .persist(StorageLevel.MEMORY_AND_DISK)

      val admitted = batch.join(rejected, Seq("doc_id"), "left_anti")
        .withColumn("batch_id", lit(batchId))
      val n = admitted.count()
      // exactly-once: both sinks are batch-keyed partition replaces, so a
      // replay of this batch overwrites its own output instead of
      // appending; an all-rejected replay clears its partitions
      // explicitly (an empty frame carries no partitions to replace)
      if (n == 0) {
        Fs.deleteDir(spark, s"$root/docs/batch_id=$batchId")
        Fs.deleteDir(spark, s"$idxPath/batch_id=$batchId")
      } else {
        Layers.replacePartitionsPath(admitted, s"$root/docs", Seq("batch_id"))
        Layers.replacePartitionsPath(
          sigs.join(rejected, Seq("doc_id"), "left_anti").withColumn("batch_id", lit(batchId)),
          idxPath, Seq("batch_id"))
      }
      rejected.unpersist()
      n
    } finally sigs.unpersist()
  }

  /** Streaming form: every micro-batch runs [[ingestBatch]] keyed by its
    * epoch id inside `foreachBatch` — the checkpointed engine replays a
    * crashed epoch and the batch-keyed sinks make the replay idempotent. */
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

  /** The admitted corpus as one relation. */
  def corpus(spark: SparkSession, root: String): DataFrame =
    Fs.readParquet(spark, s"$root/docs")
}
