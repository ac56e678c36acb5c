package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.engine.{Layers, Manifest, Scd2}
import graft.streaming.EventStream
import java.nio.file.Files

case class PartUpdate(part_key: Long, p_name: String, price_cents: Long)

class StreamingScd2Spec extends SparkSpec {

  test("streaming SCD2 over two micro-batches equals sequential batch merges") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val cfg = Scd2.Config("part_key", Seq("p_name", "price_cents"))
    val base = Files.createTempDirectory("scd2stream").toString

    val b1 = Seq(PartUpdate(1, "alpha", 100), PartUpdate(2, "beta", 200))
    val b2 = Seq(PartUpdate(1, "alpha", 150), PartUpdate(3, "gamma", 300))

    val input = MemoryStream[PartUpdate]
    val dates = Map(0L -> "2024-01-01", 1L -> "2024-06-01")
    val q = EventStream.scd2Sink(input.toDF(), cfg, s"$base/dim", s"$base/ckpt", dates,
      availableNow = false)
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    q.stop()

    val streamed = Manifest.read(spark, s"$base/dim").orderBy("surrogate_key")

    val batch1 = Scd2.initialLoad(b1.toDF(), cfg, "2024-01-01")
    val expected = Scd2.applyChanges(batch1, b2.toDF(), cfg, "2024-06-01")
      .orderBy("surrogate_key")

    assert(streamed.collect().map(_.toSeq).toSeq ==
      expected.collect().map(_.toSeq).toSeq)
    // invariants: key 1 has an expired v1 and a current v2
    val k1 = streamed.filter(col("part_key") === 1).collect()
    assert(k1.length == 2)
    assert(k1.count(_.getAs[Boolean]("is_current")) == 1)
  }

  test("streaming SCD2 restarted on its checkpoint resumes at the next epoch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val cfg = Scd2.Config("part_key", Seq("p_name", "price_cents"))
    val base = Files.createTempDirectory("scd2restart").toString
    val dim = s"$base/dim"; val ckpt = s"$base/ckpt"
    val batches = Seq(
      Seq(PartUpdate(1, "alpha", 100), PartUpdate(2, "beta", 200)),
      Seq(PartUpdate(1, "alpha", 150), PartUpdate(3, "gamma", 300)),
      Seq(PartUpdate(2, "beta", 250), PartUpdate(4, "delta", 400)))
    val dates = Map(0L -> "2024-01-01", 1L -> "2024-06-01", 2L -> "2024-09-01")

    val first = MemoryStream[PartUpdate]
    val q1 = EventStream.scd2Sink(first.toDF(), cfg, dim, ckpt, dates, availableNow = false)
    batches.take(2).foreach { b => first.addData(b); q1.processAllAvailable() }
    q1.stop()
    // the restarted source replays from its first offset, as a durable
    // log does; the checkpoint resumes it after the two committed epochs
    val replayed = MemoryStream[PartUpdate]
    batches.foreach(replayed.addData(_))
    val q2 = EventStream.scd2Sink(replayed.toDF(), cfg, dim, ckpt, dates, availableNow = false)
    q2.processAllAvailable()
    q2.stop()

    assert(Manifest.currentVersion(spark, dim).contains(2L))
    val expected = (1 until batches.size).foldLeft(
        Scd2.initialLoad(batches.head.toDF(), cfg, dates(0L))) { (dimAt, i) =>
      Scd2.applyChanges(dimAt, batches(i).toDF(), cfg, dates(i.toLong))
    }
    assert(Manifest.read(spark, dim).orderBy("surrogate_key").collect().map(_.toSeq).toSeq ==
      expected.orderBy("surrogate_key").collect().map(_.toSeq).toSeq)
  }

  test("compaction rewrites many small files into few") {
    val tmp = Files.createTempDirectory("compact").toString
    Tables.orders(spark, sf).repartition(24).write.parquet(s"$tmp/in")
    val smallFiles = new java.io.File(s"$tmp/in").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(smallFiles >= 24)
    val n = Layers.compact(spark, s"$tmp/in", s"$tmp/out", 2)
    val bigFiles = new java.io.File(s"$tmp/out").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(bigFiles == 2)
    assert(n == Tables.orders(spark, sf).count())
  }
}
