package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.{ExtractLoad, Fs, Layers}

/** Local-fs scheme whose rename FAILS (returns false, as Hadoop
  * signals errors) for marked partition values, but only at the
  * publish position (dst directly under the table root): `p=soft`
  * fails publish while its restore-from-trash succeeds; `p=hard`
  * fails both. Exercises the atomic-publish error channel. */
class FlakyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val targetPos = !dst.getParent.getName.startsWith("_")
    if (targetPos && dst.getName == "p=hard") false
    else if (targetPos && dst.getName == "p=soft" &&
        src.getParent.getName.startsWith("_staging")) false
    else super.rename(src, dst)
  }
}

/** Crash-consistency of the atomic partition-replace commit — the minimal
  * stand-in for Delta's transactional log (VERDICT r2 task #2): a killed
  * write must never expose a torn partition to readers. */
class AtomicCommitSpec extends SparkSpec {

  private def mk(tag: Int) = {
    import spark.implicits._
    Seq.tabulate(60)(i => (i % 3 + 1, i.toLong, tag))
      .toDF("p", "id", "version")
  }

  // arms the shared crashat:// FS to throw at the rename whose source is
  // `leaf` — for a live partition, the move-aside that starts its
  // publish — and returns `root` on that scheme
  private def crashAtRenameOf(root: String, leaf: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashat.impl", classOf[CrashAtFs].getName)
    CrashAtFs.crashPath = _.toUri.getPath == s"$root/$leaf"
    CrashAtFs.crashOp = Some("rename")
    s"crashat://$root"
  }

  test("crash BEFORE publish: target completely untouched, no debris visible to readers") {
    val out = Files.createTempDirectory("atomic1").toString
    Layers.replacePartitionsPath(mk(0), out, Seq("p"))
    // p=1 is the first partition published: crashing at its move-aside
    // leaves the batch fully staged and nothing published
    val boom = intercept[java.io.IOException] {
      Layers.replacePartitionsPath(mk(1), crashAtRenameOf(out, "p=1"), Seq("p"))
    }
    assert(boom.getMessage == "injected crash at rename")
    val rows = spark.read.parquet(out)
    assert(rows.count() == 60)
    assert(rows.filter(col("version") =!= 0).count() == 0) // all old
    // staging/trash cleaned up — nothing but partition dirs at the root
    assert(Fs.listDirs(spark, out).forall(_.getName.startsWith("p=")))
  }

  test("crash MID-publish: every partition fully old or fully new, never a mix; retry converges") {
    val out = Files.createTempDirectory("atomic2").toString
    Layers.replacePartitionsPath(mk(0), out, Seq("p"))
    val boom = intercept[java.io.IOException] {
      Layers.replacePartitionsPath(mk(1), crashAtRenameOf(out, "p=2"), Seq("p"))
    }
    assert(boom.getMessage == "injected crash at rename")
    // p=1 published (sorted order), p=2 and p=3 still old — each complete
    val byP = spark.read.parquet(out)
      .groupBy("p").agg(count(lit(1)).as("n"), count_distinct(col("version")).as("nv"),
        max("version").as("v"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(byP.values.forall { case (n, nv, _) => n == 20 && nv == 1 }) // complete + unmixed
    assert(byP(1)._3 == 1 && byP(2)._3 == 0 && byP(3)._3 == 0)
    // the batch retry (same keys) converges to all-new
    Layers.replacePartitionsPath(mk(1), out, Seq("p"))
    val after = spark.read.parquet(out)
    assert(after.count() == 60 && after.filter(col("version") =!= 1).count() == 0)
  }

  test("null partition values publish and replace like any other partition") {
    import spark.implicits._
    val out = Files.createTempDirectory("atomicnull").toString
    // null partition value → __HIVE_DEFAULT_PARTITION__ leaf dir; the
    // staging-debris filter must not treat it as debris
    val df = Seq((Some(1), 10L), (Some(2), 20L), (None, 30L), (None, 31L))
      .toDF("p", "id")
    Layers.replacePartitionsPath(df, out, Seq("p"))
    val got = spark.read.parquet(out)
    assert(got.count() == 4)
    assert(got.filter(col("p").isNull).count() == 2)
    // redelivering the null partition replaces exactly it
    val redo = Seq((Option.empty[Int], 99L)).toDF("p", "id")
    Layers.replacePartitionsPath(redo, out, Seq("p"))
    val after = spark.read.parquet(out)
    assert(after.count() == 3)
    assert(after.filter(col("p").isNull).count() == 1)
    assert(after.filter(col("p").isNull).head().getAs[Long]("id") == 99L)
  }

  test("nested partition columns publish leaf-atomically") {
    import spark.implicits._
    val out = Files.createTempDirectory("atomic3").toString
    val df = Seq.tabulate(40)(i => (i % 2, i % 5, i.toLong)).toDF("a", "b", "id")
    Layers.replacePartitionsPath(df, out, Seq("a", "b"))
    assert(spark.read.parquet(out).count() == 40)
    // only the redelivered leaf (a=0,b=1) changes
    val redo = Seq((0, 1, 999L)).toDF("a", "b", "id")
    Layers.replacePartitionsPath(redo, out, Seq("a", "b"))
    val got = spark.read.parquet(out)
    assert(got.count() == 37) // 40 - 4 + 1
    assert(got.filter(col("a") === 0 && col("b") === 1).count() == 1)
  }

  test("cross-midnight extract-load retry stays idempotent on explicit file:// URIs") {
    val tmp = Files.createTempDirectory("fsuri").toString
    val ckpt = s"file://$tmp/ckpt"; val out = s"file://$tmp/bronze"
    val ev = Tables.events(spark, sf)
    val n1 = ExtractLoad.run(spark, ev, "events", "event_id", "ts", ckpt, out, "2024-02-01")
    assert(n1 == ev.count())
    // checkpoint save lost; retry lands after midnight — the stale
    // batch partition under the old date must be dropped via the Hadoop
    // FS API (java.io.File would silently no-op on a real scheme)
    Fs.deleteDir(spark, ckpt)
    val n2 = ExtractLoad.run(spark, ev, "events", "event_id", "ts", ckpt, out, "2024-02-02")
    assert(n2 == n1)
    assert(spark.read.parquet(out).count() == ev.count())
  }

  test("failed publish rename restores the old partition from trash") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val tmp = Files.createTempDirectory("flakysoft").toString
    // seed old data through the plain local path (no flaky markers hit)
    Seq(("ok", 1L, 0), ("soft", 2L, 0)).toDF("p", "id", "v")
      .write.mode("overwrite").partitionBy("p").parquet(tmp)
    val e = intercept[java.io.IOException] {
      Layers.replacePartitionsPath(
        Seq(("ok", 10L, 1), ("soft", 20L, 1)).toDF("p", "id", "v"),
        s"flaky://$tmp", Seq("p"))
    }
    assert(e.getMessage.contains("old copy restored"), e.getMessage)
    val rows = spark.read.parquet(tmp)
    // 'ok' (published before 'soft' in sorted order) is new; 'soft' is
    // the restored OLD copy — each complete, nothing lost
    assert(rows.filter(col("p") === "ok").head().getAs[Int]("v") == 1)
    assert(rows.filter(col("p") === "soft").head().getAs[Int]("v") == 0)
    // trash cleaned up after the successful restore
    assert(Fs.listDirs(spark, tmp).forall(_.getName.startsWith("p=")))
  }

  test("a publish rename that THROWS restores the old partition from trash") {
    val out = Files.createTempDirectory("atomicthrow").toString
    Layers.replacePartitionsPath(mk(0), out, Seq("p"))
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashat.impl", classOf[CrashAtFs].getName)
    // the rename that publishes the staged p=2 throws, as an object
    // store's does; p=2's old copy is already in trash at that point
    CrashAtFs.crashPath = p =>
      p.getName == "p=2" && p.getParent.getName.startsWith("_staging-")
    CrashAtFs.crashOp = Some("rename")
    val boom = intercept[java.io.IOException] {
      Layers.replacePartitionsPath(mk(1), s"crashat://$out", Seq("p"))
    }
    assert(CrashAtFs.crashOp.isEmpty, "no publish rename of p=2 ran")
    assert(boom.getMessage.contains("could not publish partition p=2 (old copy restored)"),
      boom.getMessage)
    assert(boom.getCause.getMessage == "injected crash at rename")
    // p=1 published new, p=2 restored old, p=3 untouched old: all present
    val byP = spark.read.parquet(out).groupBy("p")
      .agg(count(lit(1)).as("n"), max("version").as("v"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(byP == Map(1 -> (20L, 1), 2 -> (20L, 0), 3 -> (20L, 0)), byP)
    assert(Fs.listDirs(spark, out).forall(_.getName.startsWith("p=")))
  }

  test("publish AND restore failing preserves the trash copy and says where") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    val tmp = Files.createTempDirectory("flakyhard").toString
    Seq(("hard", 2L, 0)).toDF("p", "id", "v")
      .write.mode("overwrite").partitionBy("p").parquet(tmp)
    val e = intercept[java.io.IOException] {
      Layers.replacePartitionsPath(
        Seq(("hard", 20L, 1)).toDF("p", "id", "v"),
        s"flaky://$tmp", Seq("p"))
    }
    assert(e.getMessage.contains("old data preserved at"), e.getMessage)
    // the only copy of the old partition survives in the preserved trash
    val trash = Fs.listDirs(spark, tmp).map(_.getName).filter(_.startsWith("_trash-"))
    assert(trash.size == 1)
    val saved = spark.read.parquet(s"$tmp/${trash.head}/p=hard")
    assert(saved.count() == 1 && saved.head().getAs[Int]("v") == 0)
  }

  test("sweep restores a partition stranded in trash by a crash between move-aside and publish") {
    val out = Files.createTempDirectory("sweep1").toString
    Layers.replacePartitionsPath(mk(0), out, Seq("p"))
    // simulate a hard JVM kill inside the two-rename window: p=2 moved
    // aside to trash, publish rename never ran, staging still present
    assert(Fs.rename(spark, s"$out/p=2", s"$out/_trash-dead/p=2"))
    mk(1).filter(col("p") === 2).write.partitionBy("p").parquet(s"$out/_staging-dead")
    assert(spark.read.parquet(out).count() == 40) // reader sees p=2 absent, not torn
    // the next write on the same root heals the absence before its own work
    Layers.replacePartitionsPath(mk(1).filter(col("p") === 1), out, Seq("p"))
    val rows = spark.read.parquet(out)
    assert(rows.count() == 60)
    assert(rows.filter(col("p") === 2 && col("version") =!= 0).count() == 0) // restored old copy
    assert(rows.filter(col("p") === 1 && col("version") =!= 1).count() == 0) // new batch applied
    assert(Fs.listDirs(spark, out).forall(_.getName.startsWith("p="))) // debris gone
  }

  test("standalone sweep GCs stale trash (target exists) without touching live partitions") {
    val out = Files.createTempDirectory("sweep2").toString
    Layers.replacePartitionsPath(mk(0), out, Seq("p"))
    // stale trash: the new copy won before the crash — target exists
    mk(1).filter(col("p") === 3).write.partitionBy("p").parquet(s"$out/_trash-dead")
    Layers.sweepCommitDebris(spark, out, 1)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 60)
    assert(rows.filter(col("version") =!= 0).count() == 0) // stale copy NOT restored
    assert(Fs.listDirs(spark, out).forall(_.getName.startsWith("p=")))
  }

  // the unarmed crashat:// test FS is a local FS reached by scheme: the
  // engine's filesystem ops must resolve through the Hadoop FileSystem
  // API by scheme (the way s3a:// would), not assume java.io.File
  test("filesystem ops resolve by URI scheme (crashat:// scheme honored)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashat.impl", classOf[CrashAtFs].getName)
    val tmp = Files.createTempDirectory("crashat").toString
    Files.createDirectory(java.nio.file.Paths.get(tmp, "v1"))
    Files.createDirectory(java.nio.file.Paths.get(tmp, "v2"))
    val dirs = Fs.listDirs(spark, s"crashat://$tmp")
    assert(dirs.map(_.getName).toSet == Set("v1", "v2"))
    assert(Fs.deleteDir(spark, s"crashat://$tmp/v2"))
    assert(!Fs.exists(spark, s"crashat://$tmp/v2"))
    assert(new java.io.File(s"$tmp/v1").exists()) // really the local dir underneath
  }
}
