package graft.engine

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental watermark extract-load — Spark-native re-expression of the
  * reference's reusable extractor (`dags/utils/extract_load_template.py:20-209`):
  * JSON checkpoint doc → full-vs-incremental branch → event-time cast →
  * count-gated append partitioned by ingestion_date → watermark save.
  *
  * The JDBC transport is abstracted behind a source DataFrame (SURVEY.md
  * §7.1 — no JDBC drivers locally); the watermark predicate is applied to
  * the source plan, which Catalyst pushes into the scan (parquet min/max
  * skipping locally, a JDBC WHERE on a cluster — the reference builds the
  * same predicate by hand at `extract_load_template.py:158`).
  *
  * Checkpoint storage: the watermark is ONE tiny JSON doc per table,
  * read and written driver-side through the Hadoop FileSystem API plus
  * Jackson (the way [[Manifest]] handles its log) — no Spark job. The
  * dir holds `ckpt-<seq>.json` docs, `seq` a zero-padded sequence
  * number; the newest is the checkpoint. A save writes `_tmp-<uuid>`,
  * renames it to the next unused `ckpt-<seq>.json`, and only then
  * deletes the older docs, so a crash at any point leaves either the
  * old watermark or the new one readable — never neither, which would
  * silently full-reload rows later batches already loaded. Dirs written
  * by the earlier Spark JSON writer (`part-*.json`) still read; their
  * doc counts as older than any sequenced one.
  *
  * The data path stays fully distributed: one aggregate computes the
  * count gate and the new watermark, and appends are partitioned by
  * `ingestion_date` so re-loads prune to new partitions.
  */
object ExtractLoad {

  /** Watermark doc — field-for-field the reference's checkpoint
    * (`extract_load_template.py:60-62`). The event time is stored as a
    * microsecond-precision string: Spark's JSON timestamp writer only
    * keeps milliseconds, which would silently widen the strictly-greater
    * watermark (the reference formats the timestamp by hand for the same
    * reason, `extract_load_template.py:133-154`). */
  case class Checkpoint(
      table_name: String,
      last_id: Long,
      last_event_time: String, // "yyyy-MM-dd HH:mm:ss.SSSSSS", session TZ
      processed_at: String)

  // a doc missing a field is corrupt, not a zero watermark
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES)

  private val SeqDoc = """ckpt-(\d+)\.json""".r
  private val LegacyDoc = """part-.*\.json""".r

  /** Checkpoint docs in `dir` by sequence number, oldest first; the
    * legacy Spark-written doc ranks below every sequenced one. */
  private def docs(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    files(fs, dir).flatMap(p => p.getName match {
      case SeqDoc(n)   => Some(n.toLong -> p)
      case LegacyDoc() => Some(-1L -> p)
      case _           => None
    }).sortBy { case (n, p) => (n, p.getName) }

  private def files(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toIndexedSeq.filter(_.isFile).map(_.getPath)

  /** S3: read the watermark (reference `extract_load_template.py:102-119`).
    * None — a full load — only when the dir is missing or holds no doc;
    * an unreadable or corrupt doc throws rather than silently reloading
    * everything under `batch_id = -1`. */
  def readCheckpoint(spark: SparkSession, dir: String): Option[Checkpoint] = {
    val (fs, d) = Fs.resolve(spark, dir)
    docs(fs, d).lastOption.map { case (_, doc) =>
      val in = fs.open(doc)
      try mapper.readValue(in: java.io.InputStream, classOf[Checkpoint])
      finally in.close()
    }
  }

  /** S4: publish a new watermark doc (reference
    * `extract_load_template.py:197-209`) under the next sequence number
    * through [[Fs.publishNew]] — the create-if-absent publish
    * [[Manifest.commit]] uses, so two racing saves cannot both publish
    * one number; the loser throws — then drop the older docs. The
    * cleanup also sweeps the `_tmp-*` debris of saves that crashed
    * before their rename. */
  def saveCheckpoint(spark: SparkSession, dir: String, ckpt: Checkpoint): Unit = {
    val (fs, d) = Fs.resolve(spark, dir)
    val old = docs(fs, d)
    val next = old.lastOption.fold(0L)(_._1 + 1).max(0L)
    Fs.publishNew(fs, new Path(d, f"ckpt-$next%020d.json"), mapper.writeValueAsBytes(ckpt),
      s"checkpoint save lost the race for doc $next at $dir")
    (old.map(_._2) ++ files(fs, d).filter(_.getName.startsWith("_tmp-")))
      .foreach(fs.delete(_, false))
  }

  /** S2: incremental scan — watermark predicate pushed into the source
    * plan (strictly `>`, like the reference's `ModifiedDate >` at `:158`). */
  def incremental(source: DataFrame, idCol: String, eventCol: String,
      ckpt: Option[Checkpoint]): DataFrame =
    ckpt match {
      case Some(c) => source.filter(col(eventCol) > to_timestamp(lit(c.last_event_time)))
      case None    => source
    }

  /** Full pipeline run: returns number of rows loaded. `ingestionDate`
    * is injectable for reproducibility (SURVEY.md §7.5.5 — the reference
    * uses wall-clock `current_timestamp` at `:169`).
    *
    * Idempotent, unlike the reference's blind append (`dags/sales.py:
    * 102-106`, a known defect): each work unit — identified by the
    * checkpoint watermark it STARTED from (`batch_id` = last_id, -1 for
    * the initial full load) — owns the partition
    * `(ingestion_date, batch_id)` and the write is a dynamic partition
    * OVERWRITE of exactly that partition. A retry after a partial failure
    * (data written, checkpoint not yet advanced) re-extracts the same
    * delta and replaces its own partition with identical content; a
    * successful re-trigger extracts an empty delta and touches nothing;
    * distinct work units can never collide, even several on one
    * ingestion_date. Readers prune on `ingestion_date` exactly as before
    * — `batch_id` is a sub-directory they never need to mention. */
  def run(spark: SparkSession, source: DataFrame, tableName: String,
      idCol: String, eventCol: String, ckptDir: String, outDir: String,
      ingestionDate: String): Long = {
    val ckpt = readCheckpoint(spark, ckptDir)
    val batchId = ckpt.map(_.last_id).getOrElse(-1L)
    val delta = incremental(source, idCol, eventCol, ckpt)
      .withColumn("ingestion_date", to_date(lit(ingestionDate)))
      .withColumn("batch_id", lit(batchId))
    val (n, wm) = watermark(delta, tableName, idCol, eventCol, ingestionDate)
    wm.foreach(promote(spark, delta, _, eventCol, ckptDir, outDir, ingestionDate, batchId))
    n
  }

  /** One aggregate over the delta: its row count (the count gate,
    * reference `:78,166`) and, for a non-empty delta, the checkpoint
    * that loading it advances to. */
  private def watermark(delta: DataFrame, tableName: String, idCol: String,
      eventCol: String, ingestionDate: String): (Long, Option[Checkpoint]) = {
    val r = delta.agg(count(lit(1)), max(col(idCol)).cast("long"),
      date_format(max(col(eventCol)), "yyyy-MM-dd HH:mm:ss.SSSSSS")).head()
    val n = r.getLong(0)
    (n, Option.when(n > 0)(Checkpoint(tableName, r.getLong(1), r.getString(2),
      s"$ingestionDate 00:00:00")))
  }

  /** The write + watermark-advance half of [[run]]: replace this work
    * unit's partition, then persist `wm`. Only called once the batch has
    * passed its gates — the checkpoint must never advance past data that
    * was not durably written. */
  private def promote(spark: SparkSession, delta: DataFrame, wm: Checkpoint,
      eventCol: String, ckptDir: String, outDir: String,
      ingestionDate: String, batchId: Long): Unit = {
    // a retry can cross midnight: same work unit (batch_id) but a NEW
    // ingestionDate — dynamic overwrite would leave the partial write
    // under the old date in place and duplicate the delta. The work
    // unit owns its batch_id everywhere: drop any leftover
    // batch_id=<this> partition under a DIFFERENT ingestion_date first.
    Fs.listDirs(spark, outDir)
      .filter(d => d.getName.startsWith("ingestion_date=") &&
        d.getName != s"ingestion_date=$ingestionDate")
      .map(d => s"$d/batch_id=$batchId")
      .foreach(Fs.deleteDir(spark, _))
    // `wm` was taken before this write re-reads the source: rows a live
    // source gained since lie past it and wait for the next batch
    // instead of landing here AND being re-extracted by it
    val upTo = coalesce(col(eventCol) <= to_timestamp(lit(wm.last_event_time)), lit(true))
    Layers.replacePartitionsPath(delta.filter(upTo), outDir, Seq("ingestion_date", "batch_id"))
    saveCheckpoint(spark, ckptDir, wm)
  }

  /** [[run]] with a DATA-QUALITY GATE between extract and load — the
    * reference's bare count gate (`extract_load_template.py:78,166`)
    * extended to declarative expectations ([[DataQuality.Rule]]) and
    * referential integrity ([[DataQuality.Ri]]), the dbt-test /
    * expectation-suite promotion contract. Any violation REJECTS the
    * whole batch: nothing is written and the checkpoint does NOT
    * advance, so after the upstream defect is repaired the identical
    * watermark re-extracts the batch and promotion retries cleanly —
    * rejecting without advancing is what makes the gate safe to automate.
    *
    * Returns (rows loaded — 0 when rejected or empty, the gate report
    * with a `promoted` column). The whole report — rule counts AND RI
    * orphan counts — is ONE aggregation job over the delta (which doubles
    * as the count gate: `n_rows` is the batch count); see
    * [[DataQuality.gateReport]]. */
  def runGated(spark: SparkSession, source: DataFrame, tableName: String,
      idCol: String, eventCol: String, ckptDir: String, outDir: String,
      ingestionDate: String, rules: Seq[DataQuality.Rule],
      ri: Seq[DataQuality.Ri] = Nil): (Long, DataFrame) = {
    val ckpt = readCheckpoint(spark, ckptDir)
    val batchId = ckpt.map(_.last_id).getOrElse(-1L)
    val delta = incremental(source, idCol, eventCol, ckpt)
      .withColumn("ingestion_date", to_date(lit(ingestionDate)))
      .withColumn("batch_id", lit(batchId))
    val report = DataQuality.gateReport(delta, rules, ri)
    // the report is |rules| rows — a driver-side decision, not a scan
    val rows = report.collect()
    val n = rows.headOption.map(_.getAs[Long]("n_rows")).getOrElse(0L)
    val clean = rows.forall(_.getAs[Boolean]("passed"))
    val promoted = clean && n > 0
    if (promoted)
      watermark(delta, tableName, idCol, eventCol, ingestionDate)._2.foreach(
        promote(spark, delta, _, eventCol, ckptDir, outDir, ingestionDate, batchId))
    (if (promoted) n else 0L, report.withColumn("promoted", lit(promoted)))
  }
}
