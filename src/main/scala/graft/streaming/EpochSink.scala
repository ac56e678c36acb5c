package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one micro-batch sink every streaming writer here starts through:
  * append-mode input, a REQUIRED checkpoint location, and `body(batch,
  * epoch)` per micro-batch. The checkpointed epoch id is what each sink
  * commits under (a [[graft.engine.Manifest]] version, or a batch-keyed
  * partition), so a restart resumes at the next epoch and a replayed
  * epoch is detected instead of re-applied. `availableNow` drains the
  * available input and stops; false keeps the default trigger running. */
object EpochSink {

  def start(rows: DataFrame, checkpoint: String, availableNow: Boolean)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
