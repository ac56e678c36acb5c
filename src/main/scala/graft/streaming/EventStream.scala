package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.engine.{Manifest, Scd2}

/** Structured Streaming redesign of the reference's hand-rolled
  * micro-batch incrementality (SURVEY.md §2.9): the reference tracks a
  * JSON watermark file and re-extracts `WHERE ModifiedDate > wm`
  * (`dags/utils/extract_load_template.py:126-159`); the Spark-native
  * form is `readStream` + event-time watermark + windowed aggregation,
  * with checkpointed exactly-once state instead of append-duplication.
  *
  * The same transforms run on batch DataFrames (used by the driver
  * contract through [[graft.queries.Events.hourly]]) and on streams —
  * one definition, two execution modes.
  */
object EventStream {

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark for
    * late data (the reference silently drops late rows; here they are
    * admitted within the lag). Works on batch and streaming inputs. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Per-user session state via mapGroupsWithState: running event count +
    * last-seen timestamp per user (custom streaming state example). */
  case class UserState(user_id: Long, n_events: Long, last_ts: java.sql.Timestamp)

  def userRunningCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val fn = (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        state: GroupState[UserState]) => {
      val prev = state.getOption.getOrElse(UserState(uid, 0L, new java.sql.Timestamp(0L)))
      val batch = rows.toSeq
      // last_ts must be monotonic: a late/out-of-order micro-batch whose
      // max ts precedes the stored state must not regress it
      val next = UserState(uid, prev.n_events + batch.size,
        new java.sql.Timestamp(
          math.max(prev.last_ts.getTime, batch.map(_._2.getTime).max)))
      state.update(next)
      next
    }
    events
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Closed-session emission via flatMapGroupsWithState: buffer per-user
    * events in state; when the EVENT-TIME watermark passes the last
    * activity + `gapMs`, emit the finished session and clear state.
    * Append-mode output — each session is emitted exactly once, on close
    * (watermark-driven, so behavior is deterministic and replayable). */
  case class SessionOut(user_id: Long, n_events: Long,
      first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)
  case class SessionBuf(n: Long, first: Long, last: Long)

  def closedSessions(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    val fn = (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        state: GroupState[SessionBuf]) => {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionOut(uid, s.n,
          new java.sql.Timestamp(s.first), new java.sql.Timestamp(s.last)))
      } else {
        val ts = rows.map(_._2.getTime).toSeq
        val prev = state.getOption.getOrElse(SessionBuf(0, Long.MaxValue, 0))
        val next = SessionBuf(prev.n + ts.size,
          math.min(prev.first, ts.min), math.max(prev.last, ts.max))
        state.update(next)
        state.setTimeoutTimestamp(next.last + gapMs)
        Iterator.empty
      }
    }
    events
      .withWatermark("ts", "1 second")
      .selectExpr("user_id", "ts").as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Streaming exactly-once dedup: `dropDuplicates` on the event id with
    * an event-time watermark bounding the dedup state — the streaming
    * fix for the reference's append-duplication on re-run
    * (`dags/sales.py:102`, SURVEY §2.9 exactly-once row). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")

  /** Watermark-scoped dedup on the id ALONE: unlike [[dedupedEvents]],
    * redelivered copies with a jittered timestamp (the realistic at-least-
    * once failure mode — a retried producer stamps a new ts) still
    * collapse, and state is evicted once the watermark passes. */
  def dedupedEventsWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap sessionization via the BUILT-IN `session_window` — one
    * definition for batch and streaming (append mode needs a watermark on
    * `ts` upstream). Emits first/last event times per session; note the
    * window itself spans `[first, last + gap)` by definition, and a new
    * session opens at gap ≥ `gap` where the composable lag/cumsum form
    * ([[graft.queries.EventSequences.sessionize]]) splits at gap > `gap`
    * — cross-validated equal on real data in `SessionWindowSpec`. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("first_ts"), col("last_ts"), col("n_events"))

  /** Stream-stream interval join: purchases attributed to the same
    * user's click within the following hour. Both sides carry event-time
    * watermarks and the join condition bounds event-time distance, so
    * each side's buffered state is evictable — the conditions Structured
    * Streaming requires to run an inner stream-stream join with bounded
    * memory. Runs identically on batch inputs. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** File-source streaming read of the events table (parquet directory →
    * micro-batches), for tests and as the deployment template. */
  def readEventsStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(path)
    // normalize NTZ fixture vintages like Tables.events — watermarks and
    // session windows require LTZ TIMESTAMP (session tz is UTC, so the
    // cast is instant-preserving)
    if (raw.schema.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.TimestampNTZType))
      raw.withColumn("ts", col("ts").cast("timestamp"))
    else raw
  }

  /** Start a memory-sink query over the windowed aggregation. */
  def startMemorySink(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming SCD Type 2 maintenance: epoch k merges its dimension
    * updates into the stored dimension at manifest version k-1 with
    * [[graft.engine.Scd2.applyChanges]] (epoch 0 is the
    * [[graft.engine.Scd2.initialLoad]]) and commits the result as version
    * k of the manifest table at `dimBase` — the streaming replacement for
    * the reference's re-run-the-DAG batch SCD2 (`dags/product.py`).
    * Readers resolve one committed version ([[graft.engine.Manifest.read]]),
    * so they never race the write; a replayed epoch re-merges against
    * the same base and its commit is refused, and a restart resumes at
    * the checkpointed epoch. A missing base version fails loudly. */
  def scd2Sink(updates: DataFrame, cfg: Scd2.Config, dimBase: String,
      checkpoint: String, asOfDates: Long => String,
      availableNow: Boolean = true): StreamingQuery =
    EpochSink.start(updates, checkpoint, availableNow) { (batch, epoch) =>
      val next =
        if (epoch == 0) Scd2.initialLoad(batch, cfg, asOfDates(epoch))
        else Scd2.applyChanges(Manifest.read(batch.sparkSession, dimBase, Some(epoch - 1)),
          batch, cfg, asOfDates(epoch))
      Manifest.writeVersioned(next, dimBase, Seq.empty, epoch); ()
    }

  /** Exactly-once streaming FACT load: epoch k lands in its own
    * `batch_id=k` partition, committed as manifest version k of the
    * table at `outDir`. After a crash between the commit and the
    * checkpoint, the engine replays the same epoch, whose commit is
    * refused ([[graft.engine.Manifest.replacePartitionsVersioned]]
    * returns false), so the at-least-once replay becomes exactly-once
    * output. The streaming twin of the batch loader's
    * (ingestion_date, batch_id) contract, and the streaming fix for the
    * reference's fact append-duplication (`dags/sales.py:102-106`). */
  def factSink(events: DataFrame, outDir: String, checkpoint: String,
      availableNow: Boolean = true): StreamingQuery =
    EpochSink.start(events, checkpoint, availableNow) { (batch, epoch) =>
      Manifest.replacePartitionsVersioned(batch.withColumn("batch_id", lit(epoch)),
        outDir, Seq("batch_id"), epoch); ()
    }
}
