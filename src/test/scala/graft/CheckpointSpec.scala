package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.{ExtractLoad, Fs}

/** The extract-load watermark doc: driver-side, crash-safe, and strict —
  * a checkpoint it cannot read is an error, never a silent full reload. */
class CheckpointSpec extends SparkSpec {

  private def ck(id: Long) = ExtractLoad.Checkpoint("events", id,
    f"2024-01-$id%02d 00:00:00.000000", "2024-02-01 00:00:00")

  test("readCheckpoint and saveCheckpoint launch zero Spark jobs") {
    val dir = Files.createTempDirectory("ckpt_jobs").toString + "/ckpt"
    val (_, save) = SparkWork.count(spark)(ExtractLoad.saveCheckpoint(spark, dir, ck(3)))
    val (got, read) = SparkWork.count(spark)(ExtractLoad.readCheckpoint(spark, dir))
    assert(got.contains(ck(3)))
    assert(save == SparkWork.Counts(0, 0), s"saveCheckpoint launched $save")
    assert(read == SparkWork.Counts(0, 0), s"readCheckpoint launched $read")
  }

  test("an empty incremental run is one aggregate: 2 jobs, 1 SQL execution, nothing written") {
    val tmp = Files.createTempDirectory("ckpt_empty").toString
    val ev = Tables.events(spark, sf)
    ExtractLoad.run(spark, ev, "events", "event_id", "ts", s"$tmp/ckpt", s"$tmp/bronze", "2024-02-01")
    val before = ExtractLoad.readCheckpoint(spark, s"$tmp/ckpt")
    val (n, work) = SparkWork.count(spark) {
      ExtractLoad.run(spark, ev, "events", "event_id", "ts", s"$tmp/ckpt", s"$tmp/bronze", "2024-02-02")
    }
    assert(n == 0)
    // the count gate and the watermark share one aggregate (its partial
    // and final stages run as two jobs); the checkpoint read is driver-side
    assert(work == SparkWork.Counts(jobs = 2, sqlExecutions = 1), s"saw $work")
    assert(ExtractLoad.readCheckpoint(spark, s"$tmp/ckpt") == before)
    assert(Fs.listDirs(spark, s"$tmp/bronze").map(_.getName) == Seq("ingestion_date=2024-02-01"))
  }

  test("a corrupt checkpoint doc makes run throw and leaves bronze untouched") {
    val tmp = Files.createTempDirectory("ckpt_corrupt").toString
    val (ckpt, out) = (s"$tmp/ckpt", s"$tmp/bronze")
    val ev = Tables.events(spark, sf)
    ExtractLoad.run(spark, ev, "events", "event_id", "ts", ckpt, out, "2024-02-01")
    val rows = spark.read.parquet(out).count()
    val later = ev.withColumn("ts", col("ts") + expr("INTERVAL 365 DAYS"))
    val Seq(doc) = Fs.listFiles(spark, ckpt).filter(_.getName.startsWith("ckpt-"))
    def bronze() = Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString).sorted.toSeq
    val files = bronze()
    // unparseable, and well-formed but missing its watermark id
    for (body <- Seq("{\"table_name\": \"events\", \"last_", "{\"table_name\": \"events\", " +
        "\"last_event_time\": \"2024-01-01 00:00:00.000000\", \"processed_at\": \"x\"}")) {
      Files.write(java.nio.file.Paths.get(doc.toUri), body.getBytes("UTF-8"))
      Files.deleteIfExists(java.nio.file.Paths.get(doc.getParent.toUri).resolve(s".${doc.getName}.crc"))
      intercept[com.fasterxml.jackson.core.JacksonException] {
        ExtractLoad.run(spark, later, "events", "event_id", "ts", ckpt, out, "2024-02-02")
      }
      assert(bronze() == files, "a failed checkpoint read must not write bronze")
      assert(spark.read.parquet(out).count() == rows)
    }
  }

  test("a missing or doc-less dir is no checkpoint; each save leaves exactly one doc") {
    val dir = Files.createTempDirectory("ckpt_seq").toString + "/ckpt"
    assert(ExtractLoad.readCheckpoint(spark, dir).isEmpty)
    Files.createDirectories(java.nio.file.Paths.get(dir))
    assert(ExtractLoad.readCheckpoint(spark, dir).isEmpty)
    for (i <- 1 to 3) {
      ExtractLoad.saveCheckpoint(spark, dir, ck(i))
      assert(ExtractLoad.readCheckpoint(spark, dir).contains(ck(i)))
      assert(Fs.listFiles(spark, dir).map(_.getName).filterNot(_.startsWith(".")) ==
        Seq(f"ckpt-${i - 1}%020d.json"))
    }
  }

  // every mutation a save makes, in order: crashing at each must leave
  // the old watermark readable until the rename and the new one after it
  for ((op, survivor) <- Seq("mkdirs" -> "old", "create" -> "old", "rename" -> "old",
      "delete" -> "new")) {
    test(s"a save crashing at its $op leaves the $survivor watermark; the next save recovers") {
      spark.sparkContext.hadoopConfiguration.set("fs.crashat.impl", classOf[CrashAtFs].getName)
      val dir = "crashat://" + Files.createTempDirectory(s"ckpt_crash_$op").toString + "/ckpt"
      ExtractLoad.saveCheckpoint(spark, dir, ck(1))
      CrashAtFs.seen.clear()
      CrashAtFs.crashOp = Some(op)
      val e = intercept[java.io.IOException](ExtractLoad.saveCheckpoint(spark, dir, ck(2)))
      assert(e.getMessage == s"injected crash at $op")
      assert(CrashAtFs.crashOp.isEmpty, s"the save made no $op call")
      val expect = if (survivor == "old") ck(1) else ck(2)
      assert(ExtractLoad.readCheckpoint(spark, dir).contains(expect),
        s"after: ${CrashAtFs.seen.toArray.mkString(", ")}")
      ExtractLoad.saveCheckpoint(spark, dir, ck(3))
      assert(ExtractLoad.readCheckpoint(spark, dir).contains(ck(3)))
      assert(Fs.listFiles(spark, dir).map(_.getName).filterNot(_.startsWith(".")).size == 1,
        "the recovering save sweeps older docs and crash debris")
    }
  }
}
