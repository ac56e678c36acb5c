package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.Manifest
import graft.streaming.CorpusIngest

/** Incremental corpus ingestion: near-dups rejected within a batch and
  * across batches against the stored index; batch k commits manifest
  * version k of both tables, so readers are snapshot-isolated, replay is
  * a version-probe skip, and a crash between the two commits recovers
  * against the identical decision basis. */
class CorpusIngestSpec extends SparkSpec {

  private val base = (0 until 60).map(i => s"w$i").mkString(" ")
  private def variant(tag: String) = ((0 until 59).map(i => s"w$i") :+ tag).mkString(" ")
  private def unique(tag: String) = (0 until 60).map(i => s"$tag$i").mkString(" ")
  private def ids(root: String) =
    CorpusIngest.corpus(spark, root).select("doc_id").collect().map(_.getLong(0)).toSet

  test("within-batch and cross-batch near-dups rejected; replay idempotent") {
    import spark.implicits._
    val root = Files.createTempDirectory("ingest").toString
    // batch 0: A, B≈A (59/61 tokens shared → jaccard .967), C unique
    val b0 = Seq((1L, base), (2L, variant("x1")), (3L, unique("q")))
      .toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatch(b0, root, batchId = 0L) == 2)
    assert(ids(root) == Set(1L, 3L))
    // batch 1: D≈A (cross-batch, vs the stored index), E unique
    val b1 = Seq((10L, variant("y2")), (11L, unique("z"))).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatch(b1, root, batchId = 1L) == 1)
    assert(ids(root) == Set(1L, 3L, 11L))
    // replays of the newest batch and of an OLDER one after later
    // batches (crash-after-write, checkpoint lost): detected by the
    // version probe, report the original counts, commit nothing
    assert(CorpusIngest.ingestBatch(b1, root, batchId = 1L) == 1)
    assert(CorpusIngest.ingestBatch(b0, root, batchId = 0L) == 2)
    assert(CorpusIngest.corpus(spark, root).count() == 3)
    assert(ids(root) == Set(1L, 3L, 11L))
    assert(Manifest.currentVersion(spark, s"$root/docs").contains(1L))
    assert(Manifest.currentVersion(spark, s"$root/index").contains(1L))
  }

  test("snapshot isolation: a reader pinned before a batch sees the complete earlier corpus") {
    import spark.implicits._
    val root = Files.createTempDirectory("tx2").toString
    CorpusIngest.ingestBatch(
      Seq((1L, base), (2L, unique("u"))).toDF("doc_id", "text"), root, 0L)
    val pinned = CorpusIngest.corpus(spark, root, Some(0L))
    CorpusIngest.ingestBatch(
      Seq((10L, variant("y2")), (11L, unique("z"))).toDF("doc_id", "text"), root, 1L)
    // pinned: exactly the v0 corpus, regardless of the later commit
    assert(pinned.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(ids(root) == Set(1L, 2L, 11L))
  }

  test("crash between index and docs commits recovers with the identical decision basis") {
    import spark.implicits._
    val root = Files.createTempDirectory("tx3").toString
    CorpusIngest.ingestBatch(
      Seq((1L, base), (2L, unique("u"))).toDF("doc_id", "text"), root, 0L)
    // simulate the crash window: batch 1's INDEX commit landed, docs did
    // not — by running only the index half by hand
    val b1 = Seq((10L, variant("y2")), (11L, unique("z"))).toDF("doc_id", "text")
    val sigs = graft.dedup.Dedup.signaturesFor(b1)
    Manifest.replacePartitionsVersioned(
      sigs.filter(col("doc_id") === 11L).withColumn("batch_id", lit(1L)),
      s"$root/index", Seq("batch_id"), 1L)
    assert(!Manifest.hasVersion(spark, s"$root/docs", 1L))
    // recovery replay: index half skips (version exists), docs half
    // recomputes against index v0 — the original basis — and commits
    assert(CorpusIngest.ingestBatch(b1, root, 1L) == 1)
    assert(ids(root) == Set(1L, 2L, 11L))
  }

  test("an all-rejected batch still commits its version; replay skips; corpus unchanged") {
    import spark.implicits._
    val root = Files.createTempDirectory("tx4").toString
    CorpusIngest.ingestBatch(Seq((1L, base)).toDF("doc_id", "text"), root, 0L)
    // batch 1 is one near-dup of the stored corpus → zero admitted
    assert(CorpusIngest.ingestBatch(
      Seq((10L, variant("y9"))).toDF("doc_id", "text"), root, 1L) == 0)
    assert(Manifest.currentVersion(spark, s"$root/docs").contains(1L))
    assert(CorpusIngest.corpus(spark, root).count() == 1)
    // progress recorded: the replay is detected even with nothing written
    assert(CorpusIngest.ingestBatch(
      Seq((10L, variant("y9"))).toDF("doc_id", "text"), root, 1L) == 0)
    assert(Manifest.currentVersion(spark, s"$root/docs").contains(1L))
  }

  test("streaming form: micro-batched file source builds the same deduped corpus") {
    import spark.implicits._
    val root = Files.createTempDirectory("ingest_s").toString
    val in = s"$root/incoming"; val ckpt = s"$root/ckpt"
    // two files → two micro-batches (maxFilesPerTrigger=1)
    Seq((1L, base), (2L, variant("x1")), (3L, unique("q")))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$in/f0")
    Seq((10L, variant("y2")), (11L, unique("z")))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$in/f1")
    // the file source orders micro-batches by modification time; writes
    // landing in the same timestamp granule would make batch order (and
    // which near-dup side survives) nondeterministic — force f1 later
    new java.io.File(s"$in/f1").listFiles().foreach { f =>
      f.setLastModified(System.currentTimeMillis() + 60000)
    }
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    val q = CorpusIngest.sink(stream, s"$root/corpus", ckpt)
    q.awaitTermination(120000)
    assert(ids(s"$root/corpus") == Set(1L, 3L, 11L))
  }
}
