package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Manifest-committed snapshot tables — the minimal transactional-log
  * substrate standing in for the Delta tables the reference keeps all its
  * layers in (`spark/conf/spark-defaults.conf:13` delta catalog,
  * `trino_scripts/dim_product.sql:35-36` `USING DELTA LOCATION`; no Delta
  * jars in this environment, SURVEY.md §7.5.3).
  *
  * It is the commit protocol of the materialized views ([[Mv]]), of
  * the epoch-keyed streaming sinks (`CorpusIngest`, `SpanIngest`,
  * `StreamingMv`, `EventStream`'s fact and SCD2 sinks), which commit
  * epoch k as version k ([[writeVersioned]],
  * [[replacePartitionsVersioned]]), and of two stores whose every
  * write commits at the head version: the persisted IVF-PQ index
  * (`Similarity.buildIvfPqIndexOn`: six tables) and the cluster
  * maintenance tables (`ClusterMaintain`: `index`, `labels`, `merges`).
  * [[Layers.replacePartitionsPath]], the directory-rename publish left
  * on the remaining path-keyed tables, is per-partition atomic but
  * leaves a brief window where a partition is ABSENT between its two
  * renames (and needs a debris sweep after a hard crash). This layer has
  * no such window because it never mutates live data:
  *
  *  - data files are IMMUTABLE: each commit writes a fresh
  *    `data-<uuid>/` dir under the table root and never touches others;
  *  - the live snapshot is defined solely by the newest manifest in
  *    `_graft_log/v<NNN>.json` — a single JSON file listing, per leaf
  *    partition, the commit dir that owns it (plus the schema DDL, so an
  *    empty snapshot still reads with the right schema);
  *  - a commit = write data dir → write manifest to a temp name → one
  *    atomic RENAME into `v<N+1>.json`. Readers resolve a manifest once
  *    and only ever open files it references, so they see a complete
  *    consistent snapshot: old until the rename, new after — never
  *    absent, never mixed, no sweep needed after a crash (a dangling
  *    `data-*` dir is unreferenced garbage for [[vacuum]]);
  *  - rename-refuses-to-overwrite doubles as optimistic concurrency:
  *    two racing writers both targeting `v<N+1>.json` cannot both win —
  *    the loser's rename returns false and surfaces as
  *    ConcurrentModificationException (Delta's conflict semantics).
  *
  * Old manifests remain readable — `read(spark, path, Some(v))` is time
  * travel — until [[vacuum]] drops them. At 100 TB the manifest lists
  * leaf partitions (thousands), not files (millions), and scan planning
  * starts from one small JSON instead of a recursive directory walk of
  * the table root (the object-store listing that kills large tables):
  * entries pruned by partition value or stats ([[readWhere]],
  * [[readPoint]]) are never listed at all. The leaves a read keeps are
  * still listed by Spark's file index, which runs that listing as a
  * Spark job once a read keeps more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) leaves.
  */
object Manifest {

  /** `stats`: per-column `[min, max]` over this entry's rows, rendered as
    * strings (absent for all-null columns and for manifests written before
    * stats existed — absent always means "cannot prune"). */
  case class Entry(part: String, dir: String,
      stats: Option[Map[String, Seq[String]]] = None,
      bloom: Option[Map[String, String]] = None)
  case class State(version: Long, partitionCols: Seq[String],
      schemaDdl: String, entries: Seq[Entry],
      statsCols: Option[Seq[String]] = None,
      bloomCols: Option[Seq[String]] = None)

  /** Per-entry bloom sizing: ~8 bits/key at 100k expected keys ≈ 1% fpp,
    * 100 KB per (entry, column) inline in the manifest JSON. Production
    * note: at thousands of entries the blooms belong in per-entry
    * SIDECAR files referenced by the manifest, not inline — the format
    * here keeps the commit single-file for the sandbox. */
  private val BloomItems = 100000L
  private val BloomBits = 800000L

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def logDir(path: String) = s"$path/_graft_log"
  private def fileFor(version: Long) = f"v$version%020d.json"
  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".json"))
      Some(name.stripPrefix("v").stripSuffix(".json").toLong)
    else None

  /** Newest committed version, None for a table with no log. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val (fs, p) = Fs.resolve(spark, logDir(path))
    if (!fs.exists(p)) None
    else {
      val vs = fs.listStatus(p).toIndexedSeq.flatMap(s => versionOf(s.getPath.getName))
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Parsed manifest at `version` (default: newest). None when the table
    * has no log OR the explicitly requested version's manifest file is
    * absent (never written, or vacuumed) — callers get their intended
    * "no manifest version N" error instead of a raw
    * FileNotFoundException out of fs.open. */
  def state(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[State] =
    version.orElse(currentVersion(spark, path)).flatMap { v =>
      val (fs, p) = Fs.resolve(spark, s"${logDir(path)}/${fileFor(v)}")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(mapper.readValue(in: java.io.InputStream, classOf[State]))
        finally in.close()
      }
    }

  /** [[state]], or an IllegalArgumentException naming what is missing:
    * "no manifest log at …" for the newest version, "no manifest version
    * N at …" for an explicit one. */
  private[graft] def stateOrThrow(spark: SparkSession, path: String,
      version: Option[Long] = None): State =
    state(spark, path, version).getOrElse(throw new IllegalArgumentException(
      version.fold(s"no manifest log at $path")(v => s"no manifest version $v at $path")))

  /** An entry's commit-dir root: relative names resolve under the table
    * root; absolute URIs (written by [[clone]]) stand alone. */
  private def dirRoot(path: String, dir: String): String =
    if (dir.startsWith("/") || dir.contains("://")) dir else s"$path/$dir"

  /** The snapshot at `version` (default: newest) as one DataFrame.
    * Entries are grouped by commit dir so partition-column discovery runs
    * per dir (`basePath`); predicate pushdown and partition pruning apply
    * within each scan. */
  def read(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val st = stateOrThrow(spark, path, version)
    readEntries(spark, path, StructType.fromDDL(st.schemaDdl), st.entries)
  }

  private def readEntries(spark: SparkSession, path: String,
      schema: StructType, entries: Seq[Entry]): DataFrame = {
    val scans = entries.groupBy(_.dir).toSeq.sortBy(_._1).map { case (dir, es) =>
      val root = dirRoot(path, dir)
      spark.read.option("basePath", root)
        .schema(schema)
        .parquet(es.map(e =>
          if (e.part.isEmpty) root else s"$root/${e.part}"): _*)
    }
    val merged = scans match {
      case Seq() => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case ss => ss.reduce(_ unionByName _)
    }
    // partitioned scans surface partition columns LAST regardless of the
    // provided schema — restore the committed column order so readers of
    // any version see one stable schema
    merged.select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
      .toIndexedSeq: _*)
  }

  /** Pruned range scan — the manifest-level half of Delta/Iceberg data
    * skipping: entries that cannot hold a row with `column` in `[lo, hi]`
    * are dropped BEFORE the scan is planned, so their files are never
    * listed or opened (at 100 TB that's the difference between touching
    * 3 partitions and 3,000). A partition column prunes on the exact
    * value encoded in each entry's leaf path; any column prunes on the
    * entry's recorded `[min, max]` stats. Entries with neither for the
    * column are conservatively kept, and the residual filter is applied
    * regardless, so the result always equals
    * `read(...).filter(lo <= col && col <= hi)` — pruning is purely an
    * I/O optimization, never a semantics change. Bounds compare
    * numerically for numeric columns and lexically on the string
    * rendering otherwise (correct for ISO dates/timestamps). */
  def readWhere(spark: SparkSession, path: String, column: String,
      lo: Option[Any], hi: Option[Any],
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val st = stateOrThrow(spark, path, version)
    val schema = StructType.fromDDL(st.schemaDdl)
    val base = readEntries(spark, path, schema,
      overlapping(st, schema, column, lo, hi))
    (lo.map(l => col(column) >= lit(l)) ++ hi.map(h => col(column) <= lit(h)))
      .reduceOption(_ && _).map(base.filter).getOrElse(base)
  }

  /** Point-lookup scan using BOTH manifest skipping layers — min/max
    * range stats first, then per-entry BLOOM filters (Delta's bloom
    * index analog, built at commit time for `bloomCols` via Spark's own
    * `BloomFilterAggregate` over `xxhash64`): an entry whose bloom says
    * the key is definitely absent is dropped before the scan is planned.
    * Blooms discriminate where min/max cannot — interleaved keys give
    * every entry the same [min, max] but near-disjoint key SETS, the
    * needle-in-100TB lookup shape. No false negatives (bloom property +
    * entries without a bloom conservatively kept) and a residual exact
    * filter, so the result always equals `read(...).filter(col === v)`. */
  def readPoint(spark: SparkSession, path: String, column: String, value: Any,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val st = stateOrThrow(spark, path, version)
    val schema = StructType.fromDDL(st.schemaDdl)
    val admitted = bloomAdmits(spark, st, schema, column, value,
      overlapping(st, schema, column, Some(value), Some(value)))
    readEntries(spark, path, schema, admitted)
      .filter(col(column) === lit(value).cast(schema(column).dataType))
  }

  /** Entries whose bloom (if any) might contain `value` — the hash is
    * the same `xxhash64` of the same-typed value the build side used, so
    * build and probe can never disagree on hashing. */
  private[graft] def bloomAdmits(spark: SparkSession, st: State,
      schema: StructType, column: String, value: Any,
      entries: Seq[Entry]): Seq[Entry] = {
    if (!st.bloomCols.exists(_.contains(column))) return entries
    val h = probeHash(spark, value, schema(column).dataType)
    entries.filter { e =>
      e.bloom.flatMap(_.get(column)) match {
        case None => true // no bloom recorded — cannot prune
        case Some(b64) =>
          org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(
              // MIME decoder: Spark's base64() chunks with CRLF every 76 chars
              java.util.Base64.getMimeDecoder.decode(b64)))
            .mightContainLong(h)
      }
    }
  }

  /** `xxhash64(lit(value).cast(dataType))` evaluated on the driver — the
    * same Catalyst expressions a query would run, without a Spark job. */
  private[graft] def probeHash(spark: SparkSession, value: Any,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    new XxHash64(Seq(Cast(Literal.create(value), dataType,
      Some(spark.conf.get("spark.sql.session.timeZone")))))
      .eval().asInstanceOf[Long]
  }

  /** Entries that may hold a row with `column` in `[lo, hi]`: on a
    * partition column, by the value in the entry's leaf path (exact; a
    * null partition holds no row any bound admits); on any column, by
    * the entry's stats. private[graft]: the skipping spec asserts the
    * pruned set directly. */
  private[graft] def overlapping(st: State, schema: StructType,
      column: String, lo: Option[Any], hi: Option[Any]): Seq[Entry] = {
    val numeric = schema(column).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def cmp(a: String, b: String): Int =
      if (numeric) BigDecimal(a).compare(BigDecimal(b)) else a.compareTo(b)
    val loS = lo.map(_.toString)
    val hiS = hi.map(_.toString)
    // a value the rule cannot compare (e.g. a NaN partition) is kept
    def admits(mn: String, mx: String): Boolean =
      scala.util.Try(loS.forall(l => cmp(mx, l) >= 0) &&
        hiS.forall(h => cmp(mn, h) <= 0)).getOrElse(true)
    val level = st.partitionCols.indexOf(column)
    st.entries.filter { e =>
      val byPart = level < 0 || (partValue(e.part, level) match {
        case Some(v) => admits(v, v)
        case None => loS.isEmpty && hiS.isEmpty
      })
      byPart && (e.stats.flatMap(_.get(column)) match {
        case Some(Seq(mn, mx)) => admits(mn, mx)
        case _ => true // no stats → cannot prune
      })
    }
  }

  /** The value of the `level`-th partition column in a leaf path like
    * `a=1/b=x%2Fy`, unescaped as Spark wrote it; None for the null
    * partition. */
  private def partValue(part: String, level: Int): Option[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val raw = part.split('/')(level).split("=", 2)(1)
    if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
    else Some(ExternalCatalogUtils.unescapePathName(raw))
  }

  /** Full-overwrite commit: the new snapshot is exactly `df`.
    * `statsCols` opts columns into per-entry min/max stats (enabling
    * [[readWhere]] skipping); once set it is remembered in the manifest
    * and later DML re-collects for the same columns automatically. */
  def write(df: DataFrame, path: String,
      partitionCols: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long =
    commitData(df, path, partitionCols, replaceAll = true,
      statsCols = statsCols, bloomCols = bloomCols)

  /** Full-overwrite commit at EXACTLY `version` — the streaming form,
    * where versions are named by epoch/batch id so redelivery is
    * detectable. Returns false (leaving the log untouched, staged data
    * removed) when that version is already committed: a replayed epoch
    * recomputes the same deterministic snapshot, so skipping IS the
    * exactly-once behavior. The pre-write short-circuit just saves the
    * data write; the atomic manifest rename remains the real guard
    * against two writers racing the same epoch. An uncommitted `version`
    * at or below the head throws IllegalStateException: readers serve
    * the head, so such a commit would be lost. */
  def writeVersioned(df: DataFrame, path: String, partitionCols: Seq[String],
      version: Long): Boolean = {
    val spark = df.sparkSession
    if (Fs.exists(spark, s"${logDir(path)}/${fileFor(version)}")) return false
    try { commitData(df, path, partitionCols, replaceAll = true, at = Some(version)); true }
    catch { case _: java.util.ConcurrentModificationException => false }
  }

  /** True iff `version` is committed — the replay-detection primitive for
    * epoch-keyed writers. */
  def hasVersion(spark: SparkSession, path: String, version: Long): Boolean =
    Fs.exists(spark, s"${logDir(path)}/${fileFor(version)}")

  /** [[replacePartitions]] at EXACTLY `version` — the streaming form:
    * an epoch's partitions land under a version named by the epoch, so a
    * redelivered epoch is detected (returns false, log untouched, staged
    * data removed) instead of re-applied. The atomic manifest rename
    * remains the real guard against two writers racing the same epoch.
    * An uncommitted `version` at or below the head throws, as in
    * [[writeVersioned]]. */
  def replacePartitionsVersioned(df: DataFrame, path: String,
      partitionCols: Seq[String], version: Long): Boolean = {
    val spark = df.sparkSession
    if (hasVersion(spark, path, version)) return false
    try {
      commitData(df, path, partitionCols, replaceAll = false, at = Some(version))
      true
    } catch { case _: java.util.ConcurrentModificationException => false }
  }

  /** Partition-replace commit: leaf partitions present in `df` point at
    * the new commit dir; all others keep their current entries —
    * `INSERT OVERWRITE … PARTITION` / Delta `replaceWhere` semantics
    * with snapshot isolation. Re-committing the same batch converges
    * (same partitions re-pointed), so at-least-once loaders stay
    * exactly-once. A frame with no rows replaces no partition, so it
    * commits nothing and returns the head version (the first commit of
    * a table still lands, recording its schema). */
  def replacePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long =
    commitData(df, path, partitionCols, replaceAll = false,
      statsCols = statsCols, bloomCols = bloomCols)

  /** `dropParts`: leaf partitions leaving the snapshot even when `df`
    * holds no row for them ([[deleteWhere]]'s emptied partitions). */
  private def commitData(df: DataFrame, path: String,
      partitionCols: Seq[String], replaceAll: Boolean,
      at: Option[Long] = None, rebalance: Boolean = true,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      dropParts: Set[String] = Set.empty): Long = {
    val spark = df.sparkSession
    val prev = state(spark, path)
    // a version at or below the head would never be read (readers serve
    // the head), and a partition replace there would carry the head's
    // later entries into the older version
    for (v <- at; st <- prev if v <= st.version)
      throw new IllegalStateException(
        s"cannot commit version $v at $path: not above the head version ${st.version}")
    prev.foreach { st =>
      require(st.partitionCols == partitionCols,
        s"partitionCols ${partitionCols.mkString(",")} != committed ${st.partitionCols.mkString(",")}")
    }
    // explicit statsCols on this call wins; else inherit the table's
    val effStats =
      if (statsCols.nonEmpty) statsCols
      else prev.flatMap(_.statsCols).getOrElse(Seq.empty)
    val effBlooms =
      if (bloomCols.nonEmpty) bloomCols
      else prev.flatMap(_.bloomCols).getOrElse(Seq.empty)
    val dir = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    // rebalance=false preserves a caller-arranged clustering (Z-order):
    // the AQE rebalance shuffle would redistribute it. A driver-built
    // unpartitioned frame is small: one task, one file, no shuffle
    val shaped =
      if (!rebalance) df
      else if (partitionCols.isEmpty && df.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        df.coalesce(1)
      else df.hint("rebalance", partitionCols.map(org.apache.spark.sql.functions.col): _*)
    val writer = shaped.write.mode(SaveMode.ErrorIfExists)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(s"$path/$dir")
    val bare =
      if (partitionCols.nonEmpty)
        Layers.leafDirs(spark, s"$path/$dir", partitionCols.size)
          .sorted.map(Entry(_, dir))
      else if (effStats.isEmpty && effBlooms.isEmpty) Seq(Entry("", dir))
      else {
        // stats-tracked unpartitioned tables get one entry PER FILE —
        // Delta's granularity — so [[readWhere]] skips at file level
        // (this is what makes [[optimizeZOrder]]'s clustering actually
        // prune: clustered files own disjoint key ranges)
        val (fs, p) = Fs.resolve(spark, s"$path/$dir")
        fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
          .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
          .sorted.map(Entry(_, dir))
      }
    val fresh = collectStats(spark, s"$path/$dir", df.schema,
      partitionCols, effStats, effBlooms, bare)
    prev match {
      // a partition replace that brings no partition changes nothing:
      // the head stays, and the dir (only `_SUCCESS`) goes. A first
      // commit records the schema and a versioned one its epoch, so
      // those commit even when empty
      case Some(st) if fresh.isEmpty && !replaceAll && at.isEmpty && dropParts.isEmpty =>
        Fs.deleteDir(spark, s"$path/$dir")
        st.version
      case _ =>
        val kept =
          if (replaceAll) Seq.empty
          else prev.map(_.entries.filterNot(e =>
            dropParts(e.part) || fresh.exists(_.part == e.part))).getOrElse(Seq.empty)
        try
          commit(spark, path, State(at.getOrElse(prev.map(_.version + 1).getOrElse(0L)),
            partitionCols, df.schema.toDDL, kept ++ fresh,
            Some(effStats).filter(_.nonEmpty), Some(effBlooms).filter(_.nonEmpty)))
        catch {
          case e: java.util.ConcurrentModificationException =>
            Fs.deleteDir(spark, s"$path/$dir") // unreferenced; don't wait for vacuum
            throw e
        }
    }
  }

  /** private[graft]: the crash/race specs drive the protocol directly. */
  private[graft] def commit(spark: SparkSession, path: String, st: State): Long = {
    val (fs, target) = Fs.resolve(spark, s"${logDir(path)}/${fileFor(st.version)}")
    Fs.publishNew(fs, target, mapper.writeValueAsBytes(st),
      s"manifest commit lost the race for version ${st.version} at $path")
    st.version
  }

  /** Leaf-dir name for a row's partition values — must render to the same
    * names Spark wrote (true for the int/string/date partition keys used
    * across this engine, escaped as Spark escapes them; other types would
    * need Spark's cast-to-string rendering here). */
  private def renderPart(pcols: Seq[String], r: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils._
    pcols.map { c =>
      escapePathName(c) + "=" + Option(r.getAs[Any](c))
        .map(v => escapePathName(v.toString)).getOrElse(DEFAULT_PARTITION_NAME)
    }.mkString("/")
  }

  /** Per-entry min/max for `statsCols`, computed by reading back the
    * freshly written commit dir (so stats describe the actual files, and
    * a nondeterministic input can't desync them). One map-side-combinable
    * min/max aggregation over data that is still hot — O(entries ×
    * statsCols) driver rows. All-null columns are omitted (absent =
    * cannot prune). */
  private def collectStats(spark: SparkSession, dirPath: String,
      schema: StructType, pcols: Seq[String], statsCols: Seq[String],
      bloomCols: Seq[String], entries: Seq[Entry]): Seq[Entry] = {
    if (statsCols.isEmpty && bloomCols.isEmpty) return entries
    import org.apache.spark.sql.functions.{col, element_at, expr, max, min, split}
    val written = spark.read.schema(schema).parquet(dirPath)
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"))) ++
      bloomCols.map(c => expr(
        s"base64(bloom_agg(xxhash64(`$c`), ${BloomItems}L, ${BloomBits}L))")
        .as(s"__bf_$c"))
    // unpartitioned: per-FILE grouping (entries are file names); else
    // per leaf partition
    val keyed =
      if (pcols.isEmpty)
        written.groupBy(element_at(split(col("_metadata.file_path"), "/"), -1)
          .as("__file"))
      else written.groupBy(pcols.map(col): _*)
    val rows = keyed.agg(aggs.head, aggs.tail: _*).collect()
    val byPart = rows.map { r =>
      val m = statsCols.flatMap { c =>
        (Option(r.getAs[String](s"__min_$c")), Option(r.getAs[String](s"__max_$c"))) match {
          case (Some(mn), Some(mx)) => Some(c -> Seq(mn, mx))
          case _ => None
        }
      }.toMap
      val bf = bloomCols.flatMap { c =>
        Option(r.getAs[String](s"__bf_$c")).map(c -> _)
      }.toMap
      val key = if (pcols.isEmpty) r.getAs[String]("__file") else renderPart(pcols, r)
      key -> (m, bf)
    }.toMap
    entries.map { e =>
      val (m, bf) = byPart.getOrElse(e.part, (Map.empty[String, Seq[String]], Map.empty[String, String]))
      e.copy(stats = Some(m).filter(_.nonEmpty), bloom = Some(bf).filter(_.nonEmpty))
    }
  }

  /** Copy-on-write row deletion — Delta `DELETE WHERE` semantics with
    * PARTITION-scoped rewrite: only leaf partitions actually containing
    * matching rows are rewritten (survivors re-staged, matches dropped);
    * every untouched partition keeps its existing entry — same files, no
    * data movement. A partition emptied by the delete loses its entry
    * outright (partition-replace alone cannot express that: an empty
    * frame carries no partitions). Old versions still read the
    * pre-delete rows — retention until [[vacuum]], exactly Delta's
    * model. When no row matches, nothing is written or committed and
    * the head version is returned. */
  def deleteWhere(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val prev = stateOrThrow(spark, path)
    val pcols = prev.partitionCols
    val snap = read(spark, path)
    // O(affected partitions) driver rows; unpartitioned is one partition
    val affected = snap.filter(cond).select(pcols.map(col): _*).distinct().collect()
      .map(renderPart(pcols, _)).toSet
    if (affected.isEmpty) return prev.version
    val hit = prev.entries.map(_.part).filter(p => pcols.isEmpty || affected(p)).toSet
    // survivors of affected partitions only, not a full-table rewrite
    commitData(readEntries(spark, path, snap.schema, prev.entries.filter(e => hit(e.part)))
      .filter(!cond), path, pcols, replaceAll = false, dropParts = hit)
  }

  /** Delta's metadata-only DELETE on a partition column: entries whose
    * `column` value lies in `[lo, hi]` (as [[overlapping]] prunes; no
    * bound = all) leave the snapshot in one commit, with no data read or
    * written and no Spark job. None, committing nothing, when no entry
    * matches or the table has no log. */
  def dropPartitions(spark: SparkSession, path: String, column: String,
      lo: Option[Any], hi: Option[Any]): Option[Long] =
    state(spark, path).flatMap { st =>
      require(st.partitionCols.contains(column),
        s"$column is not a partition column of $path")
      val hit = overlapping(st, StructType.fromDDL(st.schemaDdl), column, lo, hi).toSet
      if (hit.isEmpty) None
      else Some(commit(spark, path,
        st.copy(version = st.version + 1, entries = st.entries.filterNot(hit))))
    }

  /** Copy-on-write MERGE (SCD1 upsert) — Delta `MERGE INTO … WHEN
    * MATCHED UPDATE WHEN NOT MATCHED INSERT` for whole rows: `src` rows
    * replace target rows sharing the business key; unmatched `src` rows
    * insert. Only partitions that hold a matched key or receive an
    * insert are rewritten — every other partition keeps its entry
    * untouched (same files). The four DML verbs over manifest tables are
    * then: [[write]]/[[replacePartitions]] (INSERT OVERWRITE),
    * [[deleteWhere]] (DELETE), this (UPDATE/UPSERT), [[compact]]/
    * [[optimizeZOrder]] (OPTIMIZE).
    *
    * CONSTRAINT (standard for partitioned upserts): partition values
    * must be stable under the merge — a matched key's `src` row must
    * carry the same partition values as its target row, else the old
    * partition keeps a stale copy (the same rule Hive/Delta dynamic
    * partition upserts impose). History keeps serving the pre-merge
    * snapshot. */
  def upsert(src: DataFrame, path: String, keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    val spark = src.sparkSession
    val prev = stateOrThrow(spark, path)
    val pcols = prev.partitionCols
    require(pcols.nonEmpty, "upsert targets partitioned tables; use write() for full rewrites")
    val tgt = read(spark, path)
    val srcKeys = src.select(keyCols.map(col): _*).distinct()
    // partitions to rewrite: those holding a matched key + those gaining
    // a src row (update-in-place or insert; both land in src's partition)
    val affected = tgt.join(srcKeys, keyCols, "left_semi")
      .select(pcols.map(col): _*)
      .unionByName(src.select(pcols.map(col): _*))
      .distinct()
    val survivors = tgt.join(affected, pcols, "left_semi")
      .join(srcKeys, keyCols, "left_anti")
    replacePartitions(survivors.unionByName(src.select(tgt.columns.map(col): _*)),
      path, pcols)
  }

  /** Small-file compaction as a manifest commit: rewrite the live
    * snapshot into one fresh commit dir (AQE-coalesced partition writes)
    * and point a new version at it — readers never see the rewrite in
    * flight, old versions stay readable, superseded files go at the next
    * [[vacuum]]. The micro-batch-sink maintenance job
    * ([[Layers.compact]]'s transactional sibling). */
  def compact(spark: SparkSession, path: String): Long = {
    val prev = stateOrThrow(spark, path)
    if (prev.partitionCols.isEmpty) write(read(spark, path), path)
    else replacePartitions(read(spark, path), path, prev.partitionCols)
  }

  /** `OPTIMIZE … ZORDER BY` — Delta's table-maintenance command as one
    * manifest commit: rewrite the live snapshot clustered by the Morton
    * code of two columns ([[Layout.zValue]]) so subsequent scans
    * filtering on EITHER column prune most files — twice: [[readWhere]]
    * skips whole files via the manifest's per-file stats before planning,
    * and parquet row-group min/max prunes within the files that remain. Transactional like [[compact]]: readers see the old snapshot
    * until the single manifest rename, old versions stay readable, the
    * unclustered files go at the next [[vacuum]]. `nFiles` bounds the
    * rewrite's output files (each owning a small hyper-rectangle of the
    * key space). Unpartitioned tables only — partitioned tables cluster
    * within partitions at write time via the rebalance hint. */
  def optimizeZOrder(spark: SparkSession, path: String,
      xCol: String, yCol: String, nFiles: Int): Long = {
    val prev = stateOrThrow(spark, path)
    require(prev.partitionCols.isEmpty,
      "optimizeZOrder rewrites whole snapshots; partitioned tables cluster per partition on write")
    commitData(Layout.zorderBy(read(spark, path), xCol, yCol, nFiles), path,
      Seq.empty, replaceAll = true, rebalance = false)
  }

  /** Zero-copy shallow clone — Delta `SHALLOW CLONE`: the clone's v0
    * manifest references the SOURCE's live data dirs by absolute path
    * (no bytes copied); subsequent commits on the clone write its own
    * relative dirs, so the clone diverges copy-on-write. Caveat shared
    * with Delta: [[vacuum]] on the SOURCE can reclaim files the clone
    * still references (the clone's own vacuum never touches absolute
    * entries — it only deletes `data-*` under its root). */
  def shallowClone(spark: SparkSession, src: String, dst: String): Long = {
    val st = stateOrThrow(spark, src)
    require(state(spark, dst).isEmpty, s"clone target $dst already has a log")
    commit(spark, dst, State(0L, st.partitionCols, st.schemaDdl,
      st.entries.map(e => e.copy(dir = dirRoot(src, e.dir))), st.statsCols,
      st.bloomCols))
  }

  /** Row-level change feed between two committed versions (Delta's
    * `table_changes` for rewrite-based DML): emitted rows carry
    * `_change_type` = `delete` (row was in `fromVersion`, its entry is
    * gone) or `insert` (row's entry is new in `toVersion`). A rewritten
    * partition shows as full delete+insert — the same contract Delta CDF
    * has for copy-on-write writers without row tracking.
    *
    * Scale shape: entries are immutable (a (part, dir) pair never mutates
    * in place), so the diff is a manifest-only set difference and ONLY
    * the changed entries' dirs are ever scanned — consuming the feed of a
    * one-partition change on a 10⁵-partition table reads one partition,
    * not the table ([[ManifestSpec]] pins `inputFiles` to changed dirs).
    * Each side reads with its OWN version's schema, so the feed stays
    * correct across schema evolution. */
  def changeFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (st0, st1, removed, added) = netEntries(spark, path, "changeFeed", fromVersion, toVersion)
    def side(entries: Seq[Entry], ddl: String, tpe: String): Option[DataFrame] =
      if (entries.isEmpty) None
      else Some(readEntries(spark, path, StructType.fromDDL(ddl), entries)
        .withColumn("_change_type", lit(tpe)))
    val parts = side(removed, st0.schemaDdl, "delete").toSeq ++
      side(added, st1.schemaDdl, "insert").toSeq
    parts match {
      case Nil =>
        // no structural change: an empty, correctly-shaped feed built
        // with NO entries — planning a real scan here would eagerly list
        // every partition's files just to limit(0), making a no-op feed
        // on a large table pay a full-table listing
        readEntries(spark, path, StructType.fromDDL(st1.schemaDdl), Seq.empty)
          .withColumn("_change_type", lit("insert"))
      case dfs => dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The states at `fromVersion` and `toVersion` and their net entry
    * diff: the entries only the first holds (removed) and only the
    * second holds (added). An entry is its (part, dir) pair. */
  private def netEntries(spark: SparkSession, path: String, op: String,
      fromVersion: Long, toVersion: Long): (State, State, Seq[Entry], Seq[Entry]) = {
    require(fromVersion <= toVersion, s"$op: fromVersion $fromVersion > toVersion $toVersion")
    val st0 = stateOrThrow(spark, path, Some(fromVersion))
    val st1 = stateOrThrow(spark, path, Some(toVersion))
    def key(e: Entry) = (e.part, e.dir)
    val keys0 = st0.entries.map(key).toSet
    val keys1 = st1.entries.map(key).toSet
    (st0, st1, st0.entries.filterNot(e => keys1.contains(key(e))),
      st1.entries.filterNot(e => keys0.contains(key(e))))
  }

  /** Row-level snapshot-vs-snapshot diff via the manifest log (Delta's
    * CDF-between-versions analogue, round-11 brief #5): classifies every
    * key as `insert` (in `toVersion` only), `delete` (in `fromVersion`
    * only) or `update` (in both with any value column changed), emitting
    * old_/new_ value columns. Unchanged rows never appear.
    *
    * Scale shape — why this goes through the log: entries are immutable,
    * so an entry present in BOTH snapshots contributes identical rows to
    * both sides and can never produce a diff. Only the net
    * removed/added entries (the [[changeFeed]] set) are scanned and
    * joined — a one-partition restatement on a 100 TB table diffs one
    * partition's rows, not the table (physical pin in `ManifestSpec`).
    * A key that MOVED between entries appears on both sides and
    * classifies by value comparison like any other.
    *
    * Contract: `keyCols` uniquely identify a row within each snapshot.
    * Value columns are the non-key columns of the `toVersion` schema
    * that also exist at `fromVersion` (comparison needs both sides). */
  def snapshotDiff(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when, struct, coalesce, not}
    val (st0, st1, removed, added) = netEntries(spark, path, "snapshotDiff", fromVersion, toVersion)
    val schema0 = StructType.fromDDL(st0.schemaDdl)
    val schema1 = StructType.fromDDL(st1.schemaDdl)
    val valueCols = schema1.fieldNames.toSeq
      .filterNot(keyCols.contains).filter(schema0.fieldNames.contains)
    val before = readEntries(spark, path, schema0, removed)
    val after = readEntries(spark, path, schema1, added)
    val b = before.select((keyCols.map(col) :+ lit(true).as("__has_old")) ++
      valueCols.map(c => col(c).as(s"old_$c")): _*)
    val a = after.select((keyCols.map(col) :+ lit(true).as("__has_new")) ++
      valueCols.map(c => col(c).as(s"new_$c")): _*)
    val j = b.join(a, keyCols, "full_outer")
    val changed = valueCols
      .map(c => not(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    j.withColumn("_change_type",
        when(col("__has_old").isNull, "insert")
          .when(col("__has_new").isNull, "delete")
          .otherwise("update"))
      .filter(col("_change_type") =!= "update" || changed)
      .select(keyCols.map(col) ++ Seq(col("_change_type")) ++
        valueCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Exactly-once incremental consumption of a manifest table (the
    * Delta-streaming-source consumer pattern, composed from
    * [[changeFeed]] + a version checkpoint): processes the net change
    * feed from the last ACKNOWLEDGED version to the current head, then
    * records the head — first call with no checkpoint delivers the full
    * head snapshot as inserts. A crash between `fn` and the ack leaves
    * the checkpoint untouched, so the next run redelivers the SAME
    * deterministic feed (at-least-once transport; consumers that apply
    * feeds idempotently — partition replace, keyed upsert — get
    * exactly-once end to end, the contract the streaming sinks get from
    * [[graft.streaming.EpochSink]]). Single consumer per checkpoint path by design (the ack is
    * last-writer-wins, not CAS). Returns the (from, to] version range
    * processed, or None when already caught up. */
  def consumeChanges(spark: SparkSession, path: String, checkpointPath: String)
      (fn: DataFrame => Unit): Option[(Long, Long)] = {
    import org.apache.spark.sql.functions.lit
    val head = currentVersion(spark, path).getOrElse(return None)
    val (fs, ck) = Fs.resolve(spark, checkpointPath)
    val last: Option[Long] =
      if (!fs.exists(ck)) None
      else {
        val in = fs.open(ck)
        try Some(new String(in.readAllBytes()).trim.toLong) finally in.close()
      }
    if (last.exists(_ >= head)) return None
    val feed = last match {
      case Some(l) => changeFeed(spark, path, l, head)
      case None => read(spark, path, Some(head))
        .withColumn("_change_type", lit("insert"))
    }
    fn(feed)
    // ack AFTER fn, via temp + OVERWRITE-rename (FileContext — plain
    // FileSystem.rename can't overwrite, and delete-then-rename leaves a
    // crash window where the checkpoint transiently vanishes: recovery
    // would replay the full head snapshot as insert-only rows and a
    // stateful keyed-upsert consumer would never see the deletes from
    // intervening versions). The ack can now never disappear: either the
    // old version or the new one is always present.
    val tmp = s"$checkpointPath-tmp-${java.util.UUID.randomUUID().toString.take(8)}"
    val (_, tmpP) = Fs.resolve(spark, tmp)
    val out = fs.create(tmpP, true)
    try out.write(head.toString.getBytes) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      ck.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmpP, ck, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    Some((last.getOrElse(-1L), head))
  }

  /** Commit history as a DataFrame (Delta's `DESCRIBE HISTORY`): one row
    * per retained version with its entry/dir counts and schema —
    * manifest-only, no data files touched. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // one log-dir listing, then parse only the manifests actually
    // present — writeVersioned tables use epoch/batch-id version numbers,
    // so probing every id in (0..max) would be O(maxVersionId) remote
    // calls on a sparse log instead of O(retained manifests)
    val (fs, lp) = Fs.resolve(spark, logDir(path))
    if (!fs.exists(lp))
      throw new IllegalArgumentException(s"no manifest log at $path")
    val versions = fs.listStatus(lp).toIndexedSeq
      .flatMap(s => versionOf(s.getPath.getName)).sorted
    if (versions.isEmpty)
      throw new IllegalArgumentException(s"no manifest log at $path")
    versions.flatMap { v =>
      state(spark, path, Some(v)).map { st =>
        (v, st.entries.size.toLong, st.entries.map(_.dir).distinct.size.toLong,
          st.partitionCols.mkString(","), st.schemaDdl)
      }
    }.toDF("version", "n_entries", "n_dirs", "partition_cols", "schema_ddl")
      .orderBy(col("version"))
  }

  /** Roll the table back to `toVersion` AS A NEW COMMIT (Delta's
    * `RESTORE TABLE … VERSION AS OF`): the restored snapshot's entries are
    * re-published under version current+1, so history is preserved — the
    * bad versions stay time-travelable and the restore itself is one more
    * auditable log entry, not a log rewrite. No data moves: entries are
    * directory references, so restore is O(manifest) regardless of table
    * size. Fails if any referenced commit dir was already [[vacuum]]ed
    * away (restore cannot resurrect deleted files). */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no manifest log at $path"))
    if (!Fs.exists(spark, s"${logDir(path)}/${fileFor(toVersion)}"))
      throw new IllegalArgumentException(
        s"no manifest version $toVersion at $path (already vacuumed?)")
    val st = state(spark, path, Some(toVersion)).get
    st.entries.map(_.dir).distinct.foreach { d =>
      require(Fs.exists(spark, dirRoot(path, d)),
        s"restore to v$toVersion impossible: commit dir $d was vacuumed")
    }
    commit(spark, path, st.copy(version = cur + 1))
  }

  /** Drop manifests older than the newest `keepVersions` and delete every
    * `data-*` dir no kept manifest references — crashed commits' dangling
    * dirs and fully superseded commit dirs. With `keepVersions = 1` only
    * the live snapshot survives (no more time travel). Retained versions
    * are counted from one log listing, as in [[history]]: epoch-keyed
    * logs ([[writeVersioned]]) are sparse, so version-id arithmetic would
    * keep fewer manifests than asked. Every kept manifest is read before
    * anything is deleted, and an unreadable one aborts the vacuum — it
    * must never count as referencing nothing. Run it like Delta's
    * VACUUM: out-of-band, never concurrently with a reader pinned to a
    * version about to be dropped. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1): Unit = {
    val (fs, lp) = Fs.resolve(spark, logDir(path))
    if (!fs.exists(lp)) return
    val logFiles = fs.listStatus(lp).toIndexedSeq.map(_.getPath)
    val versions = logFiles.flatMap(p => versionOf(p.getName)).sorted
    if (versions.isEmpty) return
    val kept = versions.takeRight(keepVersions.max(1)).toSet
    val live = kept.toSeq.flatMap(v => state(spark, path, Some(v)))
      .flatMap(_.entries.map(_.dir)).toSet
    logFiles.foreach { p =>
      if (versionOf(p.getName).exists(v => !kept.contains(v)) ||
          p.getName.startsWith("_tmp-")) // crashed commit debris
        fs.delete(p, false)
    }
    Fs.listDirs(spark, path).map(_.getName)
      .filter(n => n.startsWith("data-") && !live.contains(n))
      .foreach(n => Fs.deleteDir(spark, s"$path/$n"))
  }
}
