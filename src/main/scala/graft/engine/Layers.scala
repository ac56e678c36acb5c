package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Medallion-layer catalog management — the reference's bronze/silver/
  * gold/mart Hive schemas over Delta (`trino_scripts/create_schema.sql:1-12`)
  * re-expressed as Spark catalog databases over parquet (no Delta jars
  * locally — SURVEY.md §7.5.3; the API keeps the substrate swappable).
  *
  * Covers S6-S13: overwrite with schema replace, saveAsTable, CTAS,
  * INSERT INTO, catalog scans.
  */
object Layers {

  val layers: Seq[String] = Seq("bronze", "silver", "gold", "mart")

  /** S10: CREATE DATABASE per layer (reference create_schema.sql). */
  def createAll(spark: SparkSession): Unit =
    layers.foreach(l => spark.sql(s"CREATE DATABASE IF NOT EXISTS $l"))

  /** S6: overwrite sink with schema replace (`overwriteSchema=true` on
    * Delta → drop/recreate on parquet). */
  def overwrite(df: DataFrame, table: String): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** S11: CTAS (reference `business_sales_summary.sql:1`). */
  def ctas(spark: SparkSession, table: String, select: String): Unit =
    spark.sql(s"CREATE TABLE $table USING parquet AS $select")

  /** S12: external-location DDL — `CREATE TABLE … LOCATION` over an
    * existing data directory (reference `trino_scripts/dim_product.sql:35-36`
    * `USING DELTA LOCATION`; parquet here). The table is unmanaged: DROP
    * removes only catalog metadata, never the files. */
  def createExternal(spark: SparkSession, table: String, location: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $table USING parquet LOCATION '$location'")

  /** MERGE-shaped idempotent load: atomically replace exactly the
    * partitions present in `df`, leaving all others untouched — Delta
    * `replaceWhere` / `INSERT OVERWRITE … PARTITION` semantics on parquet.
    * This is the fix for the reference's append-duplication defect
    * (`dags/sales.py:102-106`: re-running the fact load doubles rows):
    * re-running the same load replaces its own partitions with identical
    * content instead of appending. Catalog-table variant;
    * [[replacePartitionsPath]] is the path variant.
    *
    * Torn-write note: this variant rides Spark's dynamic partition
    * overwrite (delete-matching-then-move), so a mid-write crash can
    * briefly expose a partial partition to concurrent readers of the
    * catalog table. [[Manifest.replacePartitions]] has no such window
    * (immutable data dirs, one log rename per commit) — prefer
    * `Manifest` tables where readers race writers. */
  def replacePartitions(df: DataFrame, table: String,
      partitionCol: String = "ingestion_date"): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      // first-load retry: a managed location with no catalog entry is
      // debris from a failed earlier create — clear it or saveAsTable
      // refuses with LOCATION_ALREADY_EXISTS
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      Fs.deleteDir(spark,
        spark.sessionState.catalog.defaultTablePath(ident).toString)
      df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
        .format("parquet").saveAsTable(table)
    } else {
      // insertInto is position-based: align to the catalog column order
      // (saveAsTable moves partition columns to the tail). It also
      // ignores writer options, so dynamic overwrite must be set on the
      // session conf for the duration of the write.
      val cols = spark.table(table).columns
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "dynamic")
      try
        df.select(cols.map(df.col).toIndexedSeq: _*)
          .write.mode(SaveMode.Overwrite)
          .insertInto(table)
      finally spark.conf.set(key, prev)
    }
  }

  /** Path variant of [[replacePartitions]]: only partitions present in
    * `df` are rewritten, each published ATOMICALLY — the minimal
    * stand-in for the transactional commit the reference gets from
    * Delta's log (`trino_scripts/dim_product.sql:35-36` `USING DELTA`;
    * no Delta jars locally, SURVEY.md §7.5.3). Spark's own dynamic overwrite deletes
    * matching partitions before moving new files in, so a mid-write crash
    * leaves a torn partition visible to concurrent readers. Here:
    *
    *  1. the batch is written complete to `_staging-<uuid>/` under the
    *     table root — a `_`-prefixed dir, invisible to Spark readers;
    *  2. each staged leaf partition is published by TWO directory RENAMEs
    *     (old moved to `_trash-<uuid>/`, then new renamed into place).
    *     Each rename is atomic on HDFS/local, so a reader never sees a
    *     half-written MIX of old and new files — but between the two
    *     renames the partition is briefly ABSENT: a reader racing that
    *     window sees the partition missing (empty), not torn;
    *  3. staging + trash are removed.
    *
    * A crash before publish leaves the target untouched; a crash mid-
    * publish leaves every partition individually consistent (some old,
    * some new) and the retry of the same batch — all loaders here key
    * batches to their partitions — converges to all-new. A crash INSIDE
    * the two-rename window of step 2 leaves that one partition absent,
    * with its only old copy in the reader-invisible `_trash-<uuid>/<rel>`
    * dir. Recovery: every call first runs [[sweepCommitDebris]] over the
    * table root, which restores exactly those trash leaves whose target
    * partition is missing and GCs stale `_trash-*`/`_staging-*` debris —
    * so the absence heals on the next write (or on a standalone startup
    * sweep), not never. Single writer per table root is assumed, matching
    * the reference's own discipline (Airflow `max_active_runs=1`,
    * `dags/sales.py:33-34`): a concurrent writer's live staging dir would
    * be indistinguishable from crash debris.
    *
    * The data is REBALANCE-hinted on the partition columns before the
    * staging write: plain `repartition(cols)` funnels a constant-valued
    * partition column (e.g. the streaming fact sink's single `batch_id`)
    * through ONE task, and hash-clustering alone leaves skewed values as
    * one giant file; the rebalance hint lets AQE split oversized values
    * across tasks while still clustering — no tasks×partitions small
    * files, no single-task writes. */
  def replacePartitionsPath(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$path/_staging-$uuid"
    val trash = s"$path/_trash-$uuid"
    if (Fs.exists(spark, path)) sweepCommitDebris(spark, path, partitionCols.size)
    var preserveTrash = false
    try {
      // the hint resolver accepts only UNresolved attributes as params
      df.hint("rebalance", partitionCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(staging)
      for (rel <- leafDirs(spark, staging, partitionCols.size).sorted) { // deterministic publish order
        val leaf = s"$staging/$rel"
        val target = s"$path/$rel"
        // Hadoop rename signals failure by RETURNING FALSE, while object
        // stores THROW — ignoring either here would delete the trash copy
        // in the finally and lose the partition entirely, or nest the new
        // dir inside a still-present target. Check both renames; restore
        // from trash before surfacing a failed publish so the partition
        // is never left missing.
        if (Fs.exists(spark, target) && !Fs.rename(spark, target, s"$trash/$rel"))
          throw new java.io.IOException(
            s"atomic publish: could not move aside existing partition $target")
        val published = scala.util.Try(Fs.rename(spark, leaf, target))
        if (!published.getOrElse(false)) {
          // restore the old copy; if even the restore fails, the trash
          // dir is the ONLY surviving copy — preserve it and say where
          val restored = !Fs.exists(spark, s"$trash/$rel") ||
            scala.util.Try(Fs.rename(spark, s"$trash/$rel", target)).getOrElse(false)
          if (!restored) preserveTrash = true
          throw new java.io.IOException(
            s"atomic publish: could not publish partition $rel" +
              (if (restored) " (old copy restored)"
               else s" AND restore failed — old data preserved at $trash/$rel"),
            published.failed.toOption.orNull)
        }
      }
    } finally {
      Fs.deleteDir(spark, staging)
      if (!preserveTrash) Fs.deleteDir(spark, trash)
    }
  }

  /** Relative leaf partition dirs (`col=value[/col=value…]`, depth =
    * number of partition columns) under `root`, skipping `_`-prefixed
    * metadata/staging dirs. Null-valued partitions are kept: their leaf
    * is `col=__HIVE_DEFAULT_PARTITION__`, which starts with the column
    * name, not `_`. */
  private[engine] def leafDirs(spark: SparkSession, root: String, depth: Int): Seq[String] = {
    def walk(dir: String, d: Int): Seq[String] =
      if (d == 0) Seq(dir)
      else Fs.listDirs(spark, if (dir.isEmpty) root else s"$root/$dir").map(_.getName)
        .filterNot(_.startsWith("_"))
        .flatMap(n => walk(if (dir.isEmpty) n else s"$dir/$n", d - 1))
    walk("", depth)
  }

  /** Restore-or-GC sweep over the commit debris a crashed
    * [[replacePartitionsPath]] can leave under `path` (the `finally`
    * cleanup never runs on a hard JVM kill):
    *
    *  - a `_trash-*` leaf whose target partition is MISSING is the only
    *    surviving copy — the crash hit between move-aside and publish —
    *    so it is renamed back into place;
    *  - a `_trash-*` leaf whose target exists is stale (the new copy
    *    won) and is GC'd with its trash dir;
    *  - `_staging-*` dirs are unpublished batch attempts — always GC'd
    *    (the crashed batch re-runs from scratch).
    *
    * A trash dir is only deleted once every needed restore succeeded;
    * a failed restore rename preserves the dir (still the only copy).
    * Runs automatically at the start of every [[replacePartitionsPath]]
    * call; also callable standalone as a startup sweep. Assumes a single
    * writer per table root (see [[replacePartitionsPath]]). */
  def sweepCommitDebris(spark: SparkSession, path: String,
      partitionDepth: Int): Unit = {
    val names = Fs.listDirs(spark, path).map(_.getName)
    for (t <- names.filter(_.startsWith("_trash-"))) {
      val troot = s"$path/$t"
      var allRestored = true
      for (rel <- leafDirs(spark, troot, partitionDepth)) {
        if (!Fs.exists(spark, s"$path/$rel") &&
            !Fs.rename(spark, s"$troot/$rel", s"$path/$rel"))
          allRestored = false
      }
      if (allRestored) Fs.deleteDir(spark, troot)
    }
    names.filter(_.startsWith("_staging-"))
      .foreach(s => Fs.deleteDir(spark, s"$path/$s"))
  }

  /** S13: INSERT INTO an existing table (reference `create_dim_date.sql:24`). */
  def insertInto(df: DataFrame, table: String): Unit =
    df.write.insertInto(table)

  /** S7: catalog scan. */
  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Small-file compaction: rewrite a parquet directory into `nFiles`
    * evenly-sized files (the maintenance job every streaming/incremental
    * ingest needs — thousands of micro-batch files kill scan planning at
    * 100 TB). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      nFiles: Int): Long = {
    val df = Fs.readParquet(spark, inPath)
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(outPath)
    Fs.readParquet(spark, outPath).count()
  }

  /** Bucketed table write: co-locates join keys so repeated fact⋈fact
    * joins on `bucketCol` skip the shuffle entirely (scan-time bucketing
    * replaces the exchange). The 100 TB answer to "this join runs every
    * hour on the same key". */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String,
      nBuckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $tableName")
    df.write.format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)
  }
}
