package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.engine.{Manifest, Mv}

/** Streaming incremental materialized view: each micro-batch folds its
  * partial-aggregate delta ([[graft.engine.Mv.state]]) into the previous
  * snapshot and commits the result as a manifest version NAMED BY THE
  * EPOCH (`Manifest.writeVersioned(batchId)`).
  *
  * Exactly-once under the micro-batch sink's at-least-once replay falls
  * out of two facts, with no sink-side dedup state at all:
  *  - batch k always merges against the snapshot at version k-1 — the
  *    version is pinned by the epoch id, so a replay re-reads the same
  *    base it used the first time, never a snapshot that already
  *    contains its delta (re-reading "latest" is the double-count bug);
  *  - the commit targets exactly version k: if the first attempt already
  *    committed, the replay's `writeVersioned` returns false and drops
  *    its recomputed (identical — Mv state is deterministic) snapshot.
  *
  * The serving read ([[serve]]) always sees a complete committed
  * snapshot; a crash between data write and manifest rename leaves only
  * an unreferenced data dir for [[graft.engine.Manifest.vacuum]]. Do not
  * vacuum below the last committed version while the stream is live —
  * the next epoch's base read needs it.
  *
  * Scale shape: per epoch, one delta-sized aggregate (map-side partials)
  * + one state-sized merge shuffle; the raw stream is never reprocessed.
  * State is one row per group — for a daily-revenue MV that is days, not
  * orders. */
object StreamingMv {

  def sink(rows: DataFrame, path: String, checkpoint: String,
      keys: Seq[String], measureCol: String,
      availableNow: Boolean = true): StreamingQuery =
    EpochSink.start(rows, checkpoint, availableNow) { (batch, epoch) =>
      val delta = Mv.state(batch, keys, col(measureCol))
      val merged =
        if (epoch == 0L) delta
        else Mv.merge(Seq(
          Manifest.read(batch.sparkSession, path, Some(epoch - 1)), delta), keys)
      Manifest.writeVersioned(merged, path, Seq.empty, epoch); ()
    }

  /** The served MV off the newest committed snapshot. */
  def serve(spark: SparkSession, path: String, keys: Seq[String]): DataFrame =
    Mv.serve(Manifest.read(spark, path), keys)
}
