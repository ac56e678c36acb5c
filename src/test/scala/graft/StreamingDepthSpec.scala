package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.engine.Manifest
import graft.streaming.EventStream
import java.sql.Timestamp

/** Deeper streaming coverage: built-in session_window cross-validated
  * against the composable sessionize form, watermark-scoped dedup, and a
  * bounded-state stream-stream interval join. */
class StreamingDepthSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("built-in session_window agrees with lag/cumsum sessionize on the fixture") {
    val viaWindow = EventStream.sessionWindows(Tables.events(spark, sf))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("first_ts"),
        r.getAs[Timestamp]("last_ts"), r.getAs[Long]("n_events"))).toSet
    val viaLag = graft.queries.EventSequences.sessionize(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"))).toSet
    // the two forms differ only on EXACT-30-minute gaps (>= vs >), which
    // microsecond event times never hit in practice — identical here
    assert(viaWindow == viaLag,
      s"window=${viaWindow.size} lag=${viaLag.size} diff=${(viaWindow diff viaLag).take(3)}")
    assert(viaWindow.nonEmpty)
  }

  test("session_window: streaming append emits the same closed sessions as batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val events = Seq(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "view", 1.0),
      Ev(2, ts("2024-01-01 00:10:00"), 1, "view", 1.0),  // same session
      Ev(3, ts("2024-01-01 01:00:00"), 1, "view", 1.0),  // 50min gap → new
      Ev(4, ts("2024-01-01 00:05:00"), 2, "click", 1.0),
      // watermark flusher: far-future event closes everything above
      Ev(99, ts("2025-01-01 00:00:00"), 999, "view", 0.0))
    input.addData(events)

    val q = EventStream.sessionWindows(
        input.toDF().withWatermark("ts", "1 second"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_win").start()
    q.processAllAvailable()
    q.stop()

    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("first_ts"),
        r.getAs[Timestamp]("last_ts"), r.getAs[Long]("n_events")))
      .filter(_._1 != 999L).toSet
    val streamed = norm(spark.table("sess_win").collect())
    val batch = norm(EventStream.sessionWindows(events.toDF()).collect())
    assert(streamed == batch)
    assert(batch == Set(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2L),
      (1L, ts("2024-01-01 01:00:00"), ts("2024-01-01 01:00:00"), 1L),
      (2L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:05:00"), 1L)))
  }

  test("dropDuplicatesWithinWatermark collapses redelivery with jittered ts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.dedupedEventsWithinWatermark(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_wm").start()
    input.addData(Ev(42, ts("2024-01-01 00:00:00"), 1, "view", 1.0))
    q.processAllAvailable()
    // redelivery of event 42 with a retried-producer timestamp 1min later
    input.addData(Ev(42, ts("2024-01-01 00:01:00"), 1, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_wm").filter(col("event_id") === 42).count() == 1)
    // the (id, ts)-keyed variant would treat the jittered copy as new —
    // this is exactly the case the watermark-scoped form exists for
    val both = Seq(
      Ev(42, ts("2024-01-01 00:00:00"), 1, "view", 1.0),
      Ev(42, ts("2024-01-01 00:01:00"), 1, "view", 1.0)).toDF()
    assert(EventStream.dedupedEvents(both).count() == 2)
  }

  test("stream-stream interval join: streaming matches batch, state bounded by watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val events = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 9.99),  // within 1h → match
      Ev(3, ts("2024-01-01 12:30:00"), 1, "purchase", 5.00),  // >1h after click 1 → no
      Ev(4, ts("2024-01-01 12:00:00"), 2, "click", 0.0),
      Ev(5, ts("2024-01-01 12:10:00"), 3, "purchase", 1.00),  // other user → no
      Ev(6, ts("2024-01-01 12:59:00"), 2, "purchase", 2.50))  // within 1h → match
    input.addData(events)
    val q = EventStream.clickPurchaseJoin(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj").start()
    q.processAllAvailable()
    q.stop()
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    val streamed = norm(spark.table("ssj").collect())
    val batch = norm(EventStream.clickPurchaseJoin(events.toDF()).collect())
    assert(streamed == batch)
    assert(batch == Set((1L, 2L), (4L, 6L)))
  }

  test("streaming fact sink: restart adds nothing, epoch replay replaces not appends") {
    val tmp = java.nio.file.Files.createTempDirectory("factsink").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val ev = Tables.events(spark, sf)
    ev.write.parquet(in)
    val n = ev.count()

    val q1 = EventStream.factSink(
      EventStream.readEventsStream(spark, in, spark.read.parquet(in).schema), out, ckpt)
    q1.awaitTermination()
    assert(Manifest.read(spark, out).count() == n)

    // restart against the SAME checkpoint with no new input: all epochs
    // already committed → nothing is re-emitted
    val q2 = EventStream.factSink(
      EventStream.readEventsStream(spark, in, spark.read.parquet(in).schema), out, ckpt)
    q2.awaitTermination()
    assert(Manifest.read(spark, out).count() == n)

    // simulated crash-replay of a committed epoch: its version-0 commit
    // is refused, so output is unchanged (an append sink would double it)
    val batch0 = Manifest.read(spark, out).filter(col("batch_id") === 0)
    assert(batch0.count() > 0)
    assert(!Manifest.replacePartitionsVersioned(batch0, out, Seq("batch_id"), 0L))
    assert(Manifest.read(spark, out).count() == n)
  }

  test("stream-stream join on the fixture produces attributable purchases") {
    val out = EventStream.clickPurchaseJoin(Tables.events(spark, sf))
    assert(out.count() > 0)
    assert(out.filter(col("purchase_ts") < col("click_ts")).count() == 0)
  }
}
