package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Storage-portable filesystem primitives, resolved through the Hadoop
  * FileSystem API so every production path works identically on
  * `file://`, `hdfs://` and `s3a://` — the reference stores everything on
  * S3A (`spark/conf/spark-defaults.conf:3-10`), where `java.io.File`
  * would silently no-op (a listFiles() returning null looks exactly like
  * "nothing to clean up").
  *
  * Each call resolves the owning FileSystem from the path URI plus the
  * session's `hadoopConfiguration`, so mixed-scheme deployments (local
  * checkpoints, object-store data) behave correctly per path.
  */
object Fs {

  /** Per-JVM discriminator for scratch paths. Queries that materialize
    * intermediate tables under java.io.tmpdir previously keyed the path
    * only by the input dir's hashCode — two concurrent JVMs over the
    * same fixture (bench + a correctness replay) would race on
    * deleteDir/commit of the same directory. A per-process token makes
    * scratch paths private to the JVM; within one JVM the sequential
    * delete-then-rebuild contract is unchanged. */
  val runToken: String = java.util.UUID.randomUUID().toString.take(8)

  /** Scratch dir under java.io.tmpdir, unique to (prefix, input dir,
    * this JVM). The dir component is a COLLISION-RESISTANT digest, not
    * String.hashCode: the derived-relation store ([[Derived]]) keys its
    * registry by the full dir string but serves files from this path —
    * a 31-bit collision between two input dirs would silently point two
    * registry entries at ONE parquet directory (the second build
    * delete-and-overwrites the first, both keys then serve the wrong
    * relation with no error). 16 hex chars of MD5 = 64 bits, collision
    * odds negligible at any realistic dir count; MD5 here is a path
    * discriminator, not a security boundary. */
  def scratch(prefix: String, dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
    val hex = md.take(8).map(b => f"$b%02x").mkString
    s"${System.getProperty("java.io.tmpdir")}/${prefix}_${hex}_$runToken"
  }

  def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Immediate subdirectories of `path`; empty if the path is missing.
    * (FileSystem.listStatus throws on a missing dir — unlike
    * java.io.File's null — so the existence guard is explicit.) */
  def listDirs(spark: SparkSession, path: String): Seq[Path] = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.filter(_.isDirectory).map(_.getPath)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }

  /** Recursive delete; true iff something was removed. */
  def deleteDir(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p) && fs.delete(p, true)
  }

  /** Row count of a parquet directory from FOOTER METADATA — resolved
    * driver-side (no Spark job, no scan): the parquet footer records
    * per-row-group counts, which is exactly the statistic a manifest /
    * table format serves for free. For guards that only need a row
    * BOUND (broadcast-vs-shuffle decisions), this replaces a `count()`
    * action. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    import scala.jdk.CollectionConverters._
    val (fs, p) = resolve(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    // RECURSIVE: partitioned layouts keep their files under key=value
    // subdirectories; a top-level-only listing would return 0, which is
    // the UNSAFE direction for a broadcast-admission guard (a silent
    // 0 "upper bound" admits anything)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    var sawSuccess = false
    val rootQ = fs.makeQualified(p).toString
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name == "_SUCCESS") sawSuccess = true
      // skip metadata: a path SEGMENT BELOW the root starting with "_"
      // (_SUCCESS, _temporary/…) — matched per segment, not by
      // substring, so a partition VALUE starting with an underscore
      // (…/key=_x/…) still counts its data files, and the root's own
      // name is never examined
      val meta = f.getPath.toString.stripPrefix(rootQ)
        .split('/').exists(_.startsWith("_"))
      if (name.endsWith(".parquet") && !meta) files += f
    }
    // an EMPTY derivation legitimately writes only _SUCCESS (Spark
    // skips part files for a 0-partition frame): 0 is then the true
    // count, not a blind spot. The loud failure stays for layouts with
    // no committed-write evidence at all.
    if (files.isEmpty && sawSuccess) return 0L
    require(files.nonEmpty,
      s"parquetRowCount: no parquet footers under $path — refusing to " +
        "report 0 for a layout this reader cannot see")
    files.toIndexedSeq.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.sum
  }

  /** Recursive directory copy — snapshot RESTORE for memoized store
    * templates ([[Derived.store]]) that callers then mutate: cloning a
    * built index/table directory is file-IO-scale (the compressed store
    * bytes), where rebuilding it is compute-scale. */
  def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val (srcFs, src) = resolve(spark, from)
    // the destination resolves its OWN FileSystem (a template on local
    // disk may clone to an object store), and is cleared first: Hadoop
    // FileUtil.copy's checkDest otherwise lands the clone in
    // to/<srcBasename> when `to` already exists as a directory —
    // silently mislaying it
    val (dstFs, dst) = resolve(spark, to)
    if (dstFs.exists(dst)) dstFs.delete(dst, true)
    dstFs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst,
      false, true, spark.sparkContext.hadoopConfiguration)
    ()
  }

  /** Set a file's modification time through the FileSystem API —
    * `java.io.File.setLastModified` silently no-ops on object stores,
    * exactly the failure mode [[Fs]] exists to close. `atime = -1`
    * leaves access time unchanged (FileSystem.setTimes contract). */
  def setMtime(spark: SparkSession, path: String, mtimeMs: Long): Unit = {
    val (fs, p) = resolve(spark, path)
    fs.setTimes(p, mtimeMs, -1L)
  }

  /** Modification time of a path (epoch millis). */
  def mtime(spark: SparkSession, path: String): Long = {
    val (fs, p) = resolve(spark, path)
    fs.getFileStatus(p).getModificationTime
  }

  /** Immediate child FILES of `path`; empty if the path is missing. */
  def listFiles(spark: SparkSession, path: String): Seq[Path] = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.filter(_.isFile).map(_.getPath)
  }

  /** Create-if-absent publish of one small document — the commit step of
    * the manifest log and of the extract-load watermark: write `bytes` to
    * a fresh `_tmp-<uuid>` file beside `target`, then rename it onto
    * `target` unless `target` already exists. HDFS and local rename refuse
    * to overwrite, so of two racing writers exactly one publishes; the
    * loser deletes its temp file and throws
    * ConcurrentModificationException(`lost`). A crash before the rename
    * leaves only `_tmp-*` debris, which the callers' cleanup sweeps. */
  def publishNew(fs: FileSystem, target: Path, bytes: Array[Byte],
      lost: => String): Unit = {
    val dir = target.getParent
    fs.mkdirs(dir)
    val tmp = new Path(dir, s"_tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(lost)
    }
  }

  /** Atomic directory move (HDFS/local rename; S3A's best-effort
    * equivalent). Creates the destination's parent first — Hadoop rename
    * fails, rather than creates, missing parents. */
  def rename(spark: SparkSession, from: String, to: String): Boolean = {
    val (fs, src) = resolve(spark, from)
    val dst = new Path(to)
    fs.mkdirs(dst.getParent)
    fs.rename(src, dst)
  }
}
