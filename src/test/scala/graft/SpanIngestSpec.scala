package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.engine.Manifest
import graft.streaming.SpanIngest
import graft.text.TextAnalysis

/** The streaming span-dedup ingest: batch-sequence equivalence with the
  * global batch operator, version-probe replay, crash recovery between
  * its two commits, and the sink end-to-end over a memory stream. */
class SpanIngestSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  private def state(root: String) = SpanIngest.corpus(spark, root)
    .select(col("doc_id"), col("n_kept"), col("text"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq

  test("id-ordered batches reproduce the global dedup exactly; replay is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("spaningest").toString
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val removed1 = SpanIngest.ingestBatch(b1, root, 0)
    val removed2 = SpanIngest.ingestBatch(b2, root, 1)
    assert(removed1 >= 0 && removed2 > 0) // the fixture is near-dup-dense

    // batches ascending in doc_id ⇒ the incremental first-occurrence
    // election coincides with the global min-(doc_id, chunk_no) keeper
    val incremental = state(root)
    val global = TextAnalysis.spanDedupOn(docs)
      .select(col("doc_id"), col("n_kept"), col("clean_text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(incremental == global)

    // replay batch 0 AFTER batch 1 was ingested: the version probe
    // skips it, reports the original count and commits nothing
    val removedReplay = SpanIngest.ingestBatch(b1, root, 0)
    assert(removedReplay == removed1)
    assert(state(root) == incremental)
    assert(Manifest.currentVersion(spark, s"$root/docs").contains(1L))
    assert(Manifest.currentVersion(spark, s"$root/chunks").contains(1L))
  }

  test("crash between chunks and docs commits recovers with the same rewrite") {
    val clean = java.nio.file.Files.createTempDirectory("spanclean").toString
    val crashed = java.nio.file.Files.createTempDirectory("spancrash").toString
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    Seq(clean, crashed).foreach(SpanIngest.ingestBatch(b1, _, 0))
    val removed = SpanIngest.ingestBatch(b2, clean, 1)
    // simulate the crash window: batch 1's CHUNKS commit landed, docs did
    // not — by committing the clean run's batch-1 chunks by hand
    def chunks1(root: String) = Manifest.read(spark, s"$root/chunks", Some(1L))
      .filter(col("batch_id") === 1)
    Manifest.replacePartitionsVersioned(chunks1(clean), s"$crashed/chunks", Seq("batch_id"), 1L)
    assert(!Manifest.hasVersion(spark, s"$crashed/docs", 1L))
    // recovery replay: the chunks half skips (version exists), docs
    // recompute against chunks v0 — the original basis — and commit
    assert(SpanIngest.ingestBatch(b2, crashed, 1) == removed)
    assert(state(crashed) == state(clean))
    assert(chunks1(crashed).collect().map(_.getLong(0)).sorted.toSeq ==
      chunks1(clean).collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("foreachBatch sink over a memory stream matches the direct batch calls") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("spanstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("spanckpt").toString
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = SpanIngest.sink(
      input.toDF().toDF("doc_id", "text"), root, ckpt, availableNow = false)
    input.addData(all.filter(_._1 < 250).toSeq)
    q.processAllAvailable()
    input.addData(all.filter(_._1 >= 250).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = state(root)
    val global = TextAnalysis.spanDedupOn(docs)
      .select(col("doc_id"), col("n_kept"), col("clean_text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(streamed == global)
  }
}
