package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.engine.{Fs, Layers}
import graft.text.TextAnalysis

/** Incremental SPAN-LEVEL dedup on ingest — the streaming twin of
  * [[graft.text.TextAnalysis.spanDedup]]: documents arrive in
  * micro-batches, every k-token chunk already registered by a PRIOR
  * batch (or by an earlier (doc_id, chunk_no) in the same batch) is
  * removed, and the rewritten documents plus the batch's newly-first-seen
  * chunk hashes are published with the exactly-once batch-keyed sink
  * (same machinery as [[CorpusIngest]]).
  *
  * Layout under `root`:
  *  - `docs/batch_id=N/`   rewritten documents (with reassembled text)
  *  - `chunks/batch_id=N/` the chunk hashes N registered — the
  *    persistent dedup index future batches probe
  *
  * Replay determinism (the [[CorpusIngest]] argument, verbatim): a batch
  * probes only strictly EARLIER batches' chunk partitions, so a
  * redelivered batch re-derives its original rewrite bit-for-bit
  * regardless of what was ingested after it, and the batch-keyed
  * partition replace makes the re-publish idempotent. Each chunk hash is
  * registered by exactly ONE batch (the first to see it), so the stored
  * index stays duplicate-free by construction.
  *
  * Scale shape: per batch, one chunk explode, one keeper aggregate, one
  * hash anti-probe against the stored index (equi-join on chunk_h —
  * partition-pruned to earlier batches), one reassembly aggregate. The
  * stored index is a bare 8-byte-hash column: ~1.3 GB per 10⁹ distinct
  * chunks — at 100 TB the probe join shuffles on chunk_h like any
  * billion-row equi-join; nothing is driver-resident.
  */
object SpanIngest {

  private[streaming] def chunkSchema: StructType =
    new StructType().add("chunk_h", LongType, nullable = false)

  /** Ingest one batch; returns the number of chunks REMOVED. */
  def ingestBatch(batch: DataFrame, root: String, batchId: Long,
      k: Int = 8): Long = {
    val spark = batch.sparkSession
    val toks = TextAnalysis.spanToks(batch, k)
    // feeds the keeper agg, the mark join, and the reassembly — persist
    // so the tokenize+hash explode runs once
    val chunks = TextAnalysis.spanChunks(toks, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val chunksPath = s"$root/chunks"
      // `< batchId` — replay must probe exactly the index the original
      // attempt saw (see the replay-determinism note above); explicit
      // schema so a crash-after-mkdir can't wedge recovery on inference
      val stored =
        if (Fs.exists(spark, chunksPath))
          spark.read.schema(chunkSchema.add("batch_id", LongType)).parquet(chunksPath)
            .filter(col("batch_id") < batchId).select(col("chunk_h"))
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], chunkSchema)
      val keepers = chunks.groupBy(col("chunk_h"))
        .agg(min(struct(col("doc_id"), col("chunk_no"))).as("keeper"))
      val marked = chunks.join(keepers, "chunk_h")
        .join(stored.withColumn("__hit", lit(1)), Seq("chunk_h"), "left")
        .withColumn("kept",
          struct(col("doc_id"), col("chunk_no")) === col("keeper") &&
            col("__hit").isNull)
      val out = TextAnalysis.spanReassemble(toks, marked, k)
        .withColumnRenamed("clean_text", "text")
        .withColumn("batch_id", lit(batchId))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // coalesce: sum over an EMPTY micro-batch (foreachBatch can replay
      // an empty epoch) is NULL — getLong would NPE and kill the stream
      val removed = out.agg(
        coalesce(sum(col("n_chunks") - col("n_kept")), lit(0L))
          .cast("long")).head().getLong(0)
      val newChunks = marked.filter(col("kept"))
        .select(col("chunk_h")).withColumn("batch_id", lit(batchId))
      // exactly-once: batch-keyed partition replaces; an all-dup replay
      // still publishes its docs partition (documents are rewritten, not
      // rejected), but may register zero chunks
      Layers.replacePartitionsPath(out, s"$root/docs", Seq("batch_id"))
      if (newChunks.isEmpty)
        Fs.deleteDir(spark, s"$chunksPath/batch_id=$batchId")
      else
        Layers.replacePartitionsPath(newChunks, chunksPath, Seq("batch_id"))
      out.unpersist()
      removed
    } finally chunks.unpersist()
  }

  /** Streaming form: each micro-batch runs [[ingestBatch]] keyed by its
    * checkpointed epoch id inside `foreachBatch`. */
  def sink(docs: DataFrame, root: String, checkpoint: String,
      k: Int = 8, availableNow: Boolean = true): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, root, batchId, k); ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The rewritten corpus as one relation. */
  def corpus(spark: SparkSession, root: String): DataFrame =
    Fs.readParquet(spark, s"$root/docs")
}
