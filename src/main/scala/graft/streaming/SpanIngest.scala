package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.engine.Manifest
import graft.text.TextAnalysis

/** Incremental SPAN-LEVEL dedup on ingest — the streaming twin of
  * [[graft.text.TextAnalysis.spanDedup]]: documents arrive in
  * micro-batches, every k-token chunk already registered by a PRIOR
  * batch (or by an earlier (doc_id, chunk_no) in the same batch) is
  * removed, and the rewritten documents plus the batch's newly-first-seen
  * chunk hashes are committed as [[graft.engine.Manifest]] version
  * `batchId` — the [[CorpusIngest]] protocol.
  *
  * Two manifest tables under `root`, both partitioned by `batch_id`:
  *  - `docs`   rewritten documents (with reassembled text)
  *  - `chunks` the chunk hashes each batch registered — the persistent
  *    dedup index future batches probe
  *
  * Replay determinism (the [[CorpusIngest]] argument): batch k probes
  * `chunks` AT VERSION k-1, so a redelivered batch re-derives its
  * original rewrite bit-for-bit regardless of what was ingested after it.
  * Commit order is chunks-then-docs: a replay whose docs version exists
  * is a skip, and a crash between the two commits replays against the
  * same chunks snapshot and lands only the docs commit. A batch that
  * registers no chunk still commits its (empty) chunks version. Each
  * chunk hash is registered by exactly ONE batch (the first to see it),
  * so the stored index stays duplicate-free by construction. Contract:
  * batch ids are contiguous from 0, as streaming epochs deliver.
  *
  * Scale shape: per batch, one chunk explode, one keeper aggregate, one
  * hash anti-probe against the stored index (equi-join on chunk_h), one
  * reassembly aggregate. The stored index is a bare 8-byte-hash column:
  * ~1.3 GB per 10⁹ distinct chunks — at 100 TB the probe join shuffles
  * on chunk_h like any billion-row equi-join; nothing is driver-resident.
  */
object SpanIngest {

  private[streaming] def chunkSchema: StructType =
    new StructType().add("chunk_h", LongType, nullable = false)

  /** Ingest one batch as manifest version `batchId` of both tables;
    * returns the number of chunks REMOVED, counted from the committed
    * docs snapshot (so a replayed epoch reports the original count). */
  def ingestBatch(batch: DataFrame, root: String, batchId: Long,
      k: Int = 8): Long = {
    val spark = batch.sparkSession
    val docsPath = s"$root/docs"
    val chunksPath = s"$root/chunks"
    // docs at version k implies chunks at version k: a pure replay skips
    // straight to the count
    if (!Manifest.hasVersion(spark, docsPath, batchId)) {
      require(batchId == 0 || Manifest.hasVersion(spark, chunksPath, batchId - 1),
        s"batch $batchId needs chunks version ${batchId - 1} (contiguous epochs; " +
          "not vacuumed past the replay horizon)")
      val toks = TextAnalysis.spanToks(batch, k)
      // feeds the keeper agg, the mark join, and the reassembly — persist
      // so the tokenize+hash explode runs once
      val chunks = TextAnalysis.spanChunks(toks, k)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val stored =
          if (batchId == 0) spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], chunkSchema)
          else Manifest.read(spark, chunksPath, Some(batchId - 1)).select(col("chunk_h"))
        val keepers = chunks.groupBy(col("chunk_h"))
          .agg(min(struct(col("doc_id"), col("chunk_no"))).as("keeper"))
        val marked = chunks.join(keepers, "chunk_h")
          .join(stored.withColumn("__hit", lit(1)), Seq("chunk_h"), "left")
          .withColumn("kept",
            struct(col("doc_id"), col("chunk_no")) === col("keeper") &&
              col("__hit").isNull)
        // chunks first: docs-committed implies chunks-committed; false =
        // that half already landed (crash-recovery replay)
        Manifest.replacePartitionsVersioned(
          marked.filter(col("kept")).select(col("chunk_h"))
            .withColumn("batch_id", lit(batchId)),
          chunksPath, Seq("batch_id"), batchId)
        Manifest.replacePartitionsVersioned(
          TextAnalysis.spanReassemble(toks, marked, k)
            .withColumnRenamed("clean_text", "text")
            .withColumn("batch_id", lit(batchId)),
          docsPath, Seq("batch_id"), batchId)
      } finally chunks.unpersist()
    }
    // coalesce: the sum over an EMPTY batch (an epoch can be empty) is NULL
    Manifest.read(spark, docsPath, Some(batchId))
      .filter(col("batch_id") === batchId)
      .agg(coalesce(sum(col("n_chunks") - col("n_kept")), lit(0L)).cast("long"))
      .head().getLong(0)
  }

  /** Streaming form: micro-batch epoch k runs [[ingestBatch]] as batch k. */
  def sink(docs: DataFrame, root: String, checkpoint: String,
      k: Int = 8, availableNow: Boolean = true): StreamingQuery =
    EpochSink.start(docs, checkpoint, availableNow) { (batch, epoch) =>
      ingestBatch(batch, root, epoch, k); ()
    }

  /** The rewritten corpus — the live manifest snapshot. */
  def corpus(spark: SparkSession, root: String): DataFrame =
    Manifest.read(spark, s"$root/docs")
}
