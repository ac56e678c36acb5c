package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.{Fs, Manifest}

/** Snapshot semantics of the manifest-committed table layer — the
  * transactional-log stand-in for the reference's Delta tables. The
  * properties Delta's log gives and directory-rename publishing cannot:
  * no absent-partition window, readers pinned to a consistent version,
  * crashed commits invisible. */
class ManifestSpec extends SparkSpec {

  private def mk(tag: Int) = {
    import spark.implicits._
    Seq.tabulate(60)(i => (i % 3 + 1, i.toLong, tag)).toDF("p", "id", "version")
  }

  test("write + read round-trips, partition column typed from the committed schema") {
    val path = Files.createTempDirectory("man1").toString
    val v = Manifest.write(mk(0), path, Seq("p"))
    assert(v == 0L)
    val got = Manifest.read(spark, path)
    assert(got.count() == 60)
    assert(got.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(got.filter(col("p") === 2).count() == 20)
  }

  test("replacePartitions: snapshot isolation — a reader resolved before the commit sees the full old version") {
    import spark.implicits._
    val path = Files.createTempDirectory("man2").toString
    Manifest.write(mk(0), path, Seq("p"))
    // reader resolves v0 (plans lazily against its files)
    val pinned = Manifest.read(spark, path, Some(0L))
    // writer replaces partition p=2 — immutable data dirs, new manifest
    Manifest.replacePartitions(Seq((2, 999L, 1)).toDF("p", "id", "version"), path, Seq("p"))
    // pinned reader: complete OLD snapshot — p=2 present with 20 old rows,
    // never absent (the window replacePartitionsAtomic has) or mixed
    assert(pinned.count() == 60)
    assert(pinned.filter(col("version") =!= 0).count() == 0)
    // fresh reader: new snapshot, only p=2 changed
    val now = Manifest.read(spark, path)
    assert(now.count() == 41)
    assert(now.filter(col("p") === 2).select("id").head().getLong(0) == 999L)
    assert(now.filter(col("p") =!= 2 && col("version") =!= 0).count() == 0)
  }

  test("restore: rolls back as a new commit, history intact, vacuumed target refused") {
    import spark.implicits._
    val path = Files.createTempDirectory("manR").toString
    Manifest.write(mk(0), path, Seq("p"))                              // v0
    Manifest.replacePartitions(Seq((2, 999L, 1)).toDF("p", "id", "version"),
      path, Seq("p"))                                                  // v1 (bad write)
    val v = Manifest.restore(spark, path, 0L)                          // v2 = v0 again
    assert(v == 2L)
    // restored head matches v0 exactly
    val now = Manifest.read(spark, path)
    assert(now.count() == 60 && now.filter(col("version") =!= 0).count() == 0)
    // the bad version is still time-travelable (restore appends, never rewrites)
    assert(Manifest.read(spark, path, Some(1L)).filter(col("id") === 999L).count() == 1)
    // restore to a vacuumed version is refused loudly, head unharmed
    Manifest.vacuum(spark, path, keepVersions = 1)
    val e = intercept[IllegalArgumentException](Manifest.restore(spark, path, 1L))
    assert(e.getMessage.contains("vacuum") || e.getMessage.contains("version"))
    assert(Manifest.read(spark, path).count() == 60)
  }

  test("changeFeed: rewritten partition = delete+insert, untouched partitions never scanned") {
    import spark.implicits._
    val path = Files.createTempDirectory("manCdf").toString
    Manifest.write(mk(0), path, Seq("p"))                              // v0
    Manifest.replacePartitions(Seq((2, 999L, 1)).toDF("p", "id", "version"),
      path, Seq("p"))                                                  // v1
    val feed = Manifest.changeFeed(spark, path, 0L, 1L)
    // deletes: all 20 old p=2 rows; inserts: the one new p=2 row
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 20L, "insert" -> 1L))
    assert(feed.filter(col("p") =!= 2).count() == 0) // untouched partitions absent
    // physical pin: only the changed partition's leaf dirs are listed —
    // consuming a one-partition change must not scan the other
    // partitions' files (entries are leaf-scoped even within a shared
    // commit dir)
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/p=2/")),
      "change feed scanned an unchanged partition's files")
    // identical versions → empty feed with the feed schema
    val empty = Manifest.changeFeed(spark, path, 1L, 1L)
    assert(empty.count() == 0 && empty.columns.contains("_change_type"))
  }

  test("snapshotDiff: row-level insert/update/delete; unchanged rows absent; only changed partitions scanned") {
    import spark.implicits._
    val path = Files.createTempDirectory("manDiff").toString
    // v0: p in 1..3, 20 rows each, v = id*10
    Manifest.write(
      Seq.tabulate(60)(i => (i % 3 + 1, i.toLong, i * 10L)).toDF("p", "id", "v"),
      path, Seq("p"))
    // v1 rewrites p=2 only (ids ≡1 mod 3): drop id 1 (delete), id 4 ->
    // v=999 (update), id 1000 appears (insert), every other row UNCHANGED
    val p2 = (0 until 60).map(_.toLong).filter(i => i % 3 == 1 && i != 1)
      .map(i => (2, i, if (i == 4) 999L else i * 10L))
    Manifest.replacePartitions((p2 :+ ((2, 1000L, 5L))).toDF("p", "id", "v"),
      path, Seq("p"))
    val diff = Manifest.snapshotDiff(spark, path, 0L, 1L, Seq("id"))
    val rows = diff.collect().map { r =>
      r.getLong(0) -> ((r.getString(1),
        Option(r.getAs[java.lang.Long]("old_v")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("new_v")).map(_.toLong)))
    }.toMap
    assert(rows == Map(
      1L -> (("delete", Some(10L), None)),
      4L -> (("update", Some(40L), Some(999L))),
      1000L -> (("insert", None, Some(5L)))),
      s"diff misclassified: $rows")
    // the 18 unchanged rewritten-partition rows must NOT appear
    assert(diff.count() == 3)
    // physical pin: a one-partition restatement diffs ONE partition's
    // files — p=1 and p=3 are never listed or scanned
    assert(diff.inputFiles.nonEmpty && diff.inputFiles.forall(_.contains("/p=2/")),
      "snapshotDiff scanned an unchanged partition's files")
    // identical versions → empty diff, schema intact
    val empty = Manifest.snapshotDiff(spark, path, 1L, 1L, Seq("id"))
    assert(empty.count() == 0 && empty.columns.contains("_change_type"))
  }

  test("snapshotDiff equals the brute-force diff of the two materialized snapshots (random DML)") {
    import spark.implicits._
    // the entry-pruning shortcut (diff only net-changed entries) must
    // never change semantics: for a seeded random sequence of partition
    // restatements, every adjacent-version snapshotDiff is compared
    // against the full-outer-join diff of the two materialized reads
    val path = Files.createTempDirectory("manDiffProp").toString
    val rnd = new scala.util.Random(12)
    def gen(p: Int, tag: Int): Seq[(Int, Long, Long)] =
      (0 until 12).flatMap { i =>
        val id = p * 100L + i
        // membership and value both vary by (version, id)
        if ((id + tag) % 5 == 0) None
        else Some((p, id, id * 10 + (if ((id + tag) % 3 == 0) tag else 0)))
      } ++ (if (tag % 2 == 1) Seq((p, p * 100L + 90 + tag, 7L)) else Nil)
    Manifest.write(
      (1 to 3).flatMap(p => gen(p, 0)).toDF("p", "id", "v"), path, Seq("p"))
    def brute(from: Long, to: Long) = {
      val a = Manifest.read(spark, path, Some(from))
        .select(col("id"), col("p").as("oldp"), col("v").as("oldv"), lit(true).as("ha"))
      val b = Manifest.read(spark, path, Some(to))
        .select(col("id"), col("p").as("newp"), col("v").as("newv"), lit(true).as("hb"))
      a.join(b, Seq("id"), "full_outer")
        .withColumn("t", when(col("ha").isNull, "insert")
          .when(col("hb").isNull, "delete").otherwise("update"))
        .filter(col("t") =!= "update" ||
          !(col("oldv") <=> col("newv") && col("oldp") <=> col("newp")))
        .select(col("id"), col("t"), col("oldv"), col("newv"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getAs[java.lang.Long]("oldv")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("newv")).map(_.toLong))).toSet
    }
    (1 to 4).foreach { tag =>
      val p0 = 1 + rnd.nextInt(3)
      Manifest.replacePartitions(gen(p0, tag).toDF("p", "id", "v"), path, Seq("p"))
      val v = Manifest.currentVersion(spark, path).get
      val got = Manifest.snapshotDiff(spark, path, v - 1, v, Seq("id"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getAs[java.lang.Long]("old_v")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("new_v")).map(_.toLong))).toSet
      val want = brute(v - 1, v)
      assert(got == want,
        s"v${v - 1}->v$v: only-got=${(got -- want).take(3)} only-want=${(want -- got).take(3)}")
      assert(got.nonEmpty, s"degenerate step at v$v — generator produced no change")
    }
  }

  test("consumeChanges: checkpointed feed consumption — full first load, redelivery on crash, exactly-once on ack") {
    import spark.implicits._
    val path = Files.createTempDirectory("manCon").toString
    val ck = s"$path/_consumer/state"
    Manifest.write(mk(0), path, Seq("p"))                              // v0
    // a consumer materializing the table as a map keyed by (p, id)
    var target = Map.empty[(Int, Long), Int]
    def apply(feed: org.apache.spark.sql.DataFrame): Unit =
      feed.collect().foreach { r =>
        val k = (r.getInt(0), r.getLong(1))
        if (r.getString(3) == "delete") target -= k
        else target += k -> r.getInt(2)
      }
    // first consume: full snapshot as inserts
    assert(Manifest.consumeChanges(spark, path, ck)(apply) == Some((-1L, 0L)))
    assert(target.size == 60)
    // caught up: fn not called
    assert(Manifest.consumeChanges(spark, path, ck)(_ => fail("should not run")) == None)
    // two commits, then a consumer crash BEFORE ack: checkpoint untouched
    Manifest.replacePartitions(Seq((2, 999L, 1)).toDF("p", "id", "version"),
      path, Seq("p"))                                                  // v1
    Manifest.replacePartitions(Seq((3, 777L, 2)).toDF("p", "id", "version"),
      path, Seq("p"))                                                  // v2
    intercept[RuntimeException] {
      Manifest.consumeChanges(spark, path, ck)(_ => throw new RuntimeException("crash"))
    }
    // redelivery: same net (0 -> 2] feed, applied this time
    assert(Manifest.consumeChanges(spark, path, ck)(apply) == Some((0L, 2L)))
    val expect = Manifest.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(target == expect)
    assert(Manifest.consumeChanges(spark, path, ck)(_ => fail("should not run")) == None)
  }

  test("history lists every retained version with entry counts, manifest-only") {
    import spark.implicits._
    val path = Files.createTempDirectory("manH").toString
    Manifest.write(mk(0), path, Seq("p"))
    Manifest.replacePartitions(Seq((2, 999L, 1)).toDF("p", "id", "version"),
      path, Seq("p"))
    val h = Manifest.history(spark, path).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(h.head.getLong(1) == 3L) // v0: partitions p=1,2,3
    assert(h.last.getLong(1) == 3L) // v1: still 3 leaf partitions
    assert(h.last.getLong(2) == 2L) // ...spread over two commit dirs
    assert(h.forall(_.getString(3) == "p"))
  }

  test("crash before manifest commit leaves the table byte-identical; vacuum GCs the dangling dir") {
    val path = Files.createTempDirectory("man3").toString
    Manifest.write(mk(0), path, Seq("p"))
    // simulate a writer dying after its data write, before its commit:
    // a data dir exists but no manifest references it
    mk(1).write.partitionBy("p").parquet(s"$path/data-deadbeef")
    assert(Manifest.read(spark, path).count() == 60)
    assert(Manifest.read(spark, path).filter(col("version") =!= 0).count() == 0)
    Manifest.vacuum(spark, path)
    assert(!Fs.exists(spark, s"$path/data-deadbeef"))
    assert(Manifest.read(spark, path).count() == 60) // live snapshot untouched
  }

  test("re-committing the same batch converges (at-least-once loader stays exactly-once)") {
    val path = Files.createTempDirectory("man4").toString
    Manifest.write(mk(0), path, Seq("p"))
    Manifest.replacePartitions(mk(1), path, Seq("p"))
    Manifest.replacePartitions(mk(1), path, Seq("p")) // the retry
    val got = Manifest.read(spark, path)
    assert(got.count() == 60)
    assert(got.filter(col("version") =!= 1).count() == 0)
  }

  test("time travel: every committed version stays readable until vacuumed") {
    val path = Files.createTempDirectory("man5").toString
    Manifest.write(mk(0), path, Seq("p"))
    Manifest.replacePartitions(mk(1).filter(col("p") === 1), path, Seq("p"))
    assert(Manifest.currentVersion(spark, path).contains(1L))
    assert(Manifest.read(spark, path, Some(0L)).filter(col("version") === 1).count() == 0)
    assert(Manifest.read(spark, path, Some(1L)).filter(col("version") === 1).count() == 20)
    // vacuum to 1 version: v0 gone, superseded files gone, live intact
    Manifest.vacuum(spark, path, keepVersions = 1)
    intercept[Exception] { Manifest.read(spark, path, Some(0L)).count() }
    val live = Manifest.read(spark, path)
    assert(live.count() == 60 && live.filter(col("p") === 1 && col("version") =!= 1).count() == 0)
    // exactly the dirs the live manifest references survive
    val refd = Manifest.state(spark, path).get.entries.map(_.dir).toSet
    val onDisk = Fs.listDirs(spark, path).map(_.getName).filter(_.startsWith("data-")).toSet
    assert(onDisk == refd)
  }

  test("vacuum aborts before any delete when a kept manifest is unreadable") {
    val path = Files.createTempDirectory("man_vac_corrupt").toString
    Manifest.write(mk(0), path, Seq("p"))
    Manifest.write(mk(1), path, Seq("p"))
    val log = java.nio.file.Paths.get(path, "_graft_log")
    val head = log.resolve(f"v${1L}%020d.json")
    Files.write(head, "{\"version\": 1, \"entr".getBytes("UTF-8"))
    Files.deleteIfExists(log.resolve(s".${head.getFileName}.crc"))
    def tree() = Files.walk(java.nio.file.Paths.get(path)).toArray.map(_.toString).sorted.toSeq
    val before = tree()
    intercept[java.io.IOException](Manifest.vacuum(spark, path, keepVersions = 1))
    assert(tree() == before, "an unreadable head must not count as referencing nothing")
    assert(Manifest.read(spark, path, Some(0L)).count() == 60)
  }

  test("vacuum keeps the newest keepVersions manifests of a sparse epoch-keyed log") {
    val path = Files.createTempDirectory("man_vac_sparse").toString
    assert(Manifest.writeVersioned(mk(0), path, Seq("p"), 0L))
    assert(Manifest.writeVersioned(mk(1), path, Seq("p"), 5L))
    Manifest.vacuum(spark, path, keepVersions = 2)
    assert(Manifest.history(spark, path).collect().map(_.getLong(0)).toSeq == Seq(0L, 5L))
    assert(Manifest.read(spark, path, Some(0L)).filter(col("version") === 0).count() == 60)
    assert(Manifest.read(spark, path).filter(col("version") === 1).count() == 60)
    Manifest.vacuum(spark, path, keepVersions = 1)
    assert(Manifest.history(spark, path).collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(Fs.listDirs(spark, path).map(_.getName).count(_.startsWith("data-")) == 1)
  }

  test("a versioned commit below the head is refused, naming both versions; nothing is published") {
    val path = Files.createTempDirectory("man_below").toString
    assert(Manifest.writeVersioned(mk(0), path, Seq("p"), 5L))
    // readers serve the head: a v3 written after v5 would never be read,
    // and a partition replace at v3 would carry v5's entries back in time
    val e1 = intercept[IllegalStateException](Manifest.writeVersioned(mk(1), path, Seq("p"), 3L))
    assert(e1.getMessage.contains("version 3") && e1.getMessage.contains("head version 5"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      Manifest.replacePartitionsVersioned(mk(1).filter(col("p") === 1), path, Seq("p"), 4L))
    assert(e2.getMessage.contains("version 4") && e2.getMessage.contains("head version 5"), e2.getMessage)
    // the head itself is still the replay short-circuit, not an error
    assert(!Manifest.writeVersioned(mk(1), path, Seq("p"), 5L))
    assert(Manifest.history(spark, path).collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(Manifest.read(spark, path).filter(col("version") =!= 0).count() == 0)
    assert(Fs.listDirs(spark, path).map(_.getName).count(_.startsWith("data-")) == 1)
  }

  test("losing the commit race surfaces as ConcurrentModificationException, not silent overwrite") {
    val path = Files.createTempDirectory("man6").toString
    Manifest.write(mk(0), path, Seq("p"))
    // two writers both staged against v0 and both target v1: the first
    // commit wins the rename; the loser re-plays the protocol tail with
    // the same stale version number and must be refused loudly
    val winner = Manifest.state(spark, path).get.copy(version = 1L)
    Manifest.commit(spark, path, winner)
    val dup = intercept[java.util.ConcurrentModificationException] {
      Manifest.commit(spark, path, winner)
    }
    assert(dup.getMessage.contains("lost the race"))
    // the winner's manifest is intact, no torn log entry
    assert(Manifest.currentVersion(spark, path).contains(1L))
    assert(Manifest.read(spark, path).count() == 60)
  }

  test("deleteWhere rewrites only partitions holding matches and drops emptied partitions") {
    import spark.implicits._
    val path = Files.createTempDirectory("mandel").toString
    Manifest.write(mk(0), path, Seq("p"))
    val dirsBefore = Manifest.state(spark, path).get.entries.map(e => e.part -> e.dir).toMap
    // matches live in p=1 (some ids) and ALL of p=2 (id is 1 mod 3 → p=2)
    Manifest.deleteWhere(spark, path, col("id") % 3 === 1 || (col("p") === 1 && col("id") < 30))
    val st = Manifest.state(spark, path).get
    val got = Manifest.read(spark, path)
    // p=2 fully emptied → entry gone entirely
    assert(got.filter(col("p") === 2).count() == 0)
    assert(!st.entries.exists(_.part == "p=2"))
    // p=3 untouched: SAME entry (same files, no rewrite)
    assert(st.entries.find(_.part == "p=3").map(_.dir) == dirsBefore.get("p=3"))
    // p=1 rewritten: survivors only, new dir
    assert(st.entries.find(_.part == "p=1").exists(_.dir != dirsBefore("p=1")))
    assert(got.filter(col("p") === 1).count() ==
      mk(0).filter(col("p") === 1 && !(col("id") % 3 === 1 || col("id") < 30)).count())
    // time travel still serves the pre-delete rows
    assert(Manifest.read(spark, path, Some(0L)).count() == 60)
  }

  private def dataDirs(path: String) =
    Fs.listDirs(spark, path).map(_.getName).filter(_.startsWith("data-"))

  test("deleteWhere matching no row commits nothing and writes no data dir") {
    val path = Files.createTempDirectory("mandel0").toString
    Manifest.write(mk(0).filter(col("p") <= 2), path, Seq("p"))
    assert(Manifest.deleteWhere(spark, path, col("p") === 9) == 0L)
    assert(Manifest.currentVersion(spark, path).contains(0L))
    assert(dataDirs(path).size == 1, dataDirs(path))
    assert(Manifest.read(spark, path).count() == 40)
  }

  test("replacePartitions of an empty frame commits nothing and leaves no data dir; first and versioned commits still land") {
    val path = Files.createTempDirectory("manrepl0").toString
    // a first commit of an empty frame records the table's schema
    assert(Manifest.replacePartitions(mk(0).limit(0), path, Seq("p")) == 0L)
    assert(Manifest.read(spark, path).schema.fieldNames.toSeq == Seq("p", "id", "version"))
    assert(Manifest.replacePartitions(mk(1), path, Seq("p")) == 1L)
    val dirs = dataDirs(path)
    assert(Manifest.replacePartitions(mk(2).limit(0), path, Seq("p")) == 1L)
    assert(Manifest.currentVersion(spark, path).contains(1L))
    assert(dataDirs(path) == dirs, dataDirs(path))
    assert(Manifest.read(spark, path).filter(col("version") === 1).count() == 60)
    // an empty epoch still records its version
    assert(Manifest.replacePartitionsVersioned(mk(3).limit(0), path, Seq("p"), 5L))
    assert(Manifest.currentVersion(spark, path).contains(5L))
    assert(Manifest.read(spark, path).count() == 60)
  }

  test("dropPartitions drops whole partitions from the manifest alone; a miss commits nothing") {
    val path = Files.createTempDirectory("mandrop").toString
    Manifest.write(mk(0), path, Seq("p"))
    val (v, work) = SparkWork.count(spark)(
      Manifest.dropPartitions(spark, path, "p", Some(2), Some(2)))
    assert(v.contains(1L))
    assert(work.jobs == 0, work)
    assert(Manifest.state(spark, path).get.entries.map(_.part) == Seq("p=1", "p=3"))
    assert(Manifest.read(spark, path).collect().toSet ==
      mk(0).filter(col("p") =!= 2).collect().toSet)
    assert(dataDirs(path).size == 1, "a drop writes no data")
    // no entry holds p=9, and a path with no log has nothing to drop
    assert(Manifest.dropPartitions(spark, path, "p", Some(9), Some(9)).isEmpty)
    assert(Manifest.dropPartitions(spark, s"$path-none", "p", Some(2), Some(2)).isEmpty)
    assert(Manifest.currentVersion(spark, path).contains(1L))
    // no bound drops every entry; the empty snapshot keeps its schema
    assert(Manifest.dropPartitions(spark, path, "p", None, None).contains(2L))
    val empty = Manifest.read(spark, path)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("p", "id", "version"))
    assert(Manifest.read(spark, path, Some(0L)).count() == 60, "time travel keeps the rows")
    intercept[IllegalArgumentException](
      Manifest.dropPartitions(spark, path, "id", Some(1), Some(1)))
  }

  test("a driver-built unpartitioned frame commits as one job and one parquet file") {
    import spark.implicits._
    val path = Files.createTempDirectory("manlocal").toString
    val (_, work) = SparkWork.count(spark)(
      Manifest.write(Seq((1L, "a")).toDF("id", "s"), path))
    assert(work.jobs == 1, work)
    val files = dataDirs(path).flatMap(d => Fs.listFiles(spark, s"$path/$d"))
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.size == 1, files)
    assert(Manifest.read(spark, path).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("compact folds a fragmented partitioned table into one commit, content identical") {
    val path = Files.createTempDirectory("mancomp").toString
    // one commit per partition → entries scattered over 3 dirs
    (1 to 3).foreach { i =>
      Manifest.replacePartitions(mk(i).filter(col("p") === i), path, Seq("p"))
    }
    val before = Manifest.read(spark, path).orderBy("p", "id", "version").collect()
    assert(before.length == 60)
    assert(Manifest.state(spark, path).get.entries.map(_.dir).distinct.size == 3)
    Manifest.compact(spark, path)
    val st = Manifest.state(spark, path).get
    assert(st.entries.map(_.dir).distinct.size == 1)
    val after = Manifest.read(spark, path).orderBy("p", "id", "version").collect()
    assert(after.sameElements(before))
    Manifest.vacuum(spark, path)
    val live = graft.engine.Fs.listDirs(spark, path).map(_.getName).filter(_.startsWith("data-"))
    assert(live.toSet == st.entries.map(_.dir).toSet)
  }

  test("shallowClone shares source files zero-copy and diverges copy-on-write") {
    import spark.implicits._
    val src = Files.createTempDirectory("mansrc").toString
    val dst = Files.createTempDirectory("mandst").toString + "/t"
    Manifest.write(mk(0), src, Seq("p"))
    Manifest.shallowClone(spark, src, dst)
    // no data dirs under the clone root — all entries absolute into src
    assert(graft.engine.Fs.listDirs(spark, dst).map(_.getName).count(_.startsWith("data-")) == 0)
    assert(Manifest.read(spark, dst).count() == 60)
    // clone diverges without touching the source
    Manifest.replacePartitions(Seq((2, 7L, 9)).toDF("p", "id", "version"), dst, Seq("p"))
    assert(Manifest.read(spark, dst).count() == 41)
    assert(Manifest.read(spark, src).count() == 60)
    assert(Manifest.read(spark, src).filter(col("version") === 9).count() == 0)
    // the clone's own vacuum never deletes the source's files
    Manifest.vacuum(spark, dst)
    assert(Manifest.read(spark, src).count() == 60)
  }

  test("upsert rewrites only matched/inserted partitions; updates replace, inserts append") {
    import spark.implicits._
    val path = Files.createTempDirectory("manup").toString
    Manifest.write(mk(0), path, Seq("p"))
    val dirsBefore = Manifest.state(spark, path).get.entries.map(e => e.part -> e.dir).toMap
    // update two keys in p=2, insert a fresh key into p=4
    val src = Seq((2, 1L, 77), (2, 4L, 77), (4, 900L, 77)).toDF("p", "id", "version")
    Manifest.upsert(src, path, Seq("p", "id"))
    val st = Manifest.state(spark, path).get
    val got = Manifest.read(spark, path)
    assert(got.count() == 61) // 60 + 1 insert
    // p=1, p=3 untouched — identical entries, no rewrite
    assert(st.entries.find(_.part == "p=1").map(_.dir) == dirsBefore.get("p=1"))
    assert(st.entries.find(_.part == "p=3").map(_.dir) == dirsBefore.get("p=3"))
    // p=2 rewritten: the two matched rows carry the new version, rest old
    assert(got.filter(col("p") === 2 && col("version") === 77).count() == 2)
    assert(got.filter(col("p") === 2).count() == 20)
    // p=4 created by the insert
    assert(got.filter(col("p") === 4).select("id").head().getLong(0) == 900L)
    // history still serves the pre-merge snapshot
    assert(Manifest.read(spark, path, Some(0L)).count() == 60)
    assert(Manifest.read(spark, path, Some(0L)).filter(col("version") =!= 0).count() == 0)
  }

  test("optimizeZOrder: one-commit clustered rewrite — same rows, small per-file bounding boxes") {
    import spark.implicits._
    val path = Files.createTempDirectory("manopt").toString
    val rows = Seq.tabulate(4096)(i => ((i * 2654435761L % 256).toInt,
      (i * 40503 % 256).toInt, i.toLong)).toDF("x", "y", "id")
    Manifest.write(rows.repartition(16), path)
    val before = Manifest.read(spark, path).orderBy("id").collect()
    Manifest.optimizeZOrder(spark, path, "x", "y", 16)
    val opt = Manifest.read(spark, path)
    assert(opt.orderBy("id").collect().sameElements(before)) // content identical
    assert(Manifest.read(spark, path, Some(0L)).count() == 4096) // time travel intact
    // per-FILE bounding boxes of the clustered layout ≪ the full 256×256
    // space a random layout spans (the min/max-stat pruning surface)
    val live = Manifest.state(spark, path).get.entries.map(_.dir).distinct
    assert(live.size == 1)
    val files = graft.engine.Fs.resolve(spark, s"$path/${live.head}")._1
      .listStatus(new org.apache.hadoop.fs.Path(s"$path/${live.head}"))
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
    assert(files.length > 4)
    val avgArea = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(((max(col("x")) - min(col("x")) + 1) *
          (max(col("y")) - min(col("y")) + 1)).cast("double")).head().getDouble(0)
      r
    }.sum / files.length
    assert(avgArea < 256.0 * 256.0 / 4, s"avg file bounding box $avgArea")
  }

  test("unpartitioned table commits and an empty snapshot keeps its schema") {
    import spark.implicits._
    val path = Files.createTempDirectory("man7").toString
    Manifest.write(mk(0).drop("p"), path)
    assert(Manifest.read(spark, path).count() == 60)
    // full overwrite with an empty frame: snapshot is empty but typed
    Manifest.write(mk(0).drop("p").limit(0), path)
    val empty = Manifest.read(spark, path)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "version"))
  }

  test("consumeChanges ack is atomic: a crash mid-ack never loses the position or replays the head as a full snapshot") {
    import spark.implicits._
    val path = Files.createTempDirectory("manAck").toString
    val ck = s"$path/_consumer/state"
    Manifest.write(mk(0), path, Seq("p"))                              // v0
    assert(Manifest.consumeChanges(spark, path, ck)(_.count()) ==
      Some((-1L, 0L)))                                                 // initial full load
    Manifest.replacePartitions(Seq((2, 999L, 1)).toDF("p", "id", "version"),
      path, Seq("p"))                                                  // v1
    // CRASH SIMULATION — the ack protocol is: write tmp → rename(OVERWRITE)
    // onto the checkpoint. Kill it between the two steps: the new-value
    // tmp file exists but the rename never ran. The old delete-then-rename
    // protocol at this point had DELETED the checkpoint — recovery then
    // replayed the head as insert-only and a keyed-upsert consumer missed
    // the deletes. With the atomic protocol the old ack must still be
    // intact and the next run must redeliver the (0 -> 1] DELTA feed.
    val (fs, ckP) = Fs.resolve(spark, ck)
    val debris = Fs.resolve(spark, s"$ck-tmp-deadbeef")._2
    val out = fs.create(debris, true)
    try out.write("1".getBytes) finally out.close()
    assert(fs.exists(ckP), "checkpoint vanished during the ack window")
    assert(new String({ val in = fs.open(ckP); try in.readAllBytes() finally in.close() })
      .trim.toLong == 0L, "checkpoint regressed or advanced without the rename")
    // recovery consumes the DELTA (0 -> 1], not a (-1 -> 1] snapshot replay
    var sawDeletes = -1L
    assert(Manifest.consumeChanges(spark, path, ck) { feed =>
      sawDeletes = feed.filter(col("_change_type") === "delete").count()
    } == Some((0L, 1L)))
    assert(sawDeletes == 20L, "delta feed lost its deletes — consumer replayed a snapshot")
    // after a SUCCESSFUL ack the checkpoint holds the new head and a
    // re-run does nothing (exactly-once resumes)
    assert(new String({ val in = fs.open(ckP); try in.readAllBytes() finally in.close() })
      .trim.toLong == 1L)
    assert(Manifest.consumeChanges(spark, path, ck)(_ => fail("should not run")) == None)
  }

  test("no-change changeFeed is planned from the manifest alone — zero data files referenced") {
    val path = Files.createTempDirectory("manNoc").toString
    Manifest.write(mk(0), path, Seq("p"))
    Manifest.replacePartitions(mk(0), path, Seq("p")) // v1 rewrites all parts
    // v1 -> v1: no structural change; the feed must be built WITHOUT
    // planning a scan (a limit(0) over the snapshot would list every
    // partition's files — the full-table listing a no-op feed must not pay)
    val feed = Manifest.changeFeed(spark, path, 1L, 1L)
    assert(feed.inputFiles.isEmpty, "no-change feed referenced data files")
    assert(feed.count() == 0)
    assert(feed.columns.contains("_change_type") && feed.columns.contains("p"))
  }

  test("history is O(retained manifests): sparse epoch-numbered logs list without probing the id space") {
    val path = Files.createTempDirectory("manSparse").toString
    // writeVersioned names versions by epoch id — the log is SPARSE:
    // {7, 2_000_000_011}. An O(maxVersionId) probe loop would issue two
    // billion existence checks here; one directory listing returns both.
    assert(Manifest.writeVersioned(mk(0), path, Seq("p"), 7L))
    assert(Manifest.writeVersioned(mk(1), path, Seq("p"), 2000000011L))
    val t0 = System.nanoTime()
    val h = Manifest.history(spark, path).collect()
    val ms = (System.nanoTime() - t0) / 1e6
    assert(h.map(_.getLong(0)).toSeq == Seq(7L, 2000000011L))
    assert(ms < 30000, s"history took ${ms}ms on a 2-manifest sparse log")
  }

  test("requesting a missing version fails with the intended error, not a raw stream exception") {
    val path = Files.createTempDirectory("manMiss").toString
    Manifest.write(mk(0), path, Seq("p"))                              // v0
    Manifest.replacePartitions(mk(1), path, Seq("p"))                  // v1
    // never-written version
    val e1 = intercept[IllegalArgumentException] {
      Manifest.changeFeed(spark, path, 0L, 99L)
    }
    assert(e1.getMessage.contains("no manifest version 99"))
    // vacuumed-away version: state file is gone but the id is < head
    Manifest.vacuum(spark, path, keepVersions = 1)
    val e2 = intercept[IllegalArgumentException] {
      Manifest.changeFeed(spark, path, 0L, 1L)
    }
    assert(e2.getMessage.contains("no manifest version 0"))
    val e3 = intercept[IllegalArgumentException] {
      Manifest.read(spark, path, Some(0L))
    }
    assert(e3.getMessage.contains("no manifest"))
  }
}
