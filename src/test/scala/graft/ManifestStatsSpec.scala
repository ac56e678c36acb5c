package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.Manifest

/** Per-entry min/max stats and stats-pruned scans ([[Manifest.readWhere]])
  * — the manifest half of Delta/Iceberg data skipping. The killer property
  * is proved by poisoning: entries outside the range have their parquet
  * bytes corrupted, so the test fails loudly if the pruned scan ever plans
  * (let alone reads) them. */
class ManifestStatsSpec extends SparkSpec {

  // three partitions with disjoint id ranges: p=1 → 0..19, p=2 → 100..119, p=3 → 200..219
  private def mk() = {
    import spark.implicits._
    Seq.tabulate(60)(i => (i % 3 + 1, (i % 3) * 100L + i / 3)).toDF("p", "id")
  }

  private def poison(dirPath: String): Unit = {
    val d = Paths.get(dirPath)
    Files.list(d).forEach { f =>
      if (f.getFileName.toString.endsWith(".parquet"))
        Files.write(f, Array.fill[Byte](64)(0x7f))
    }
  }

  test("stats are collected per entry and prune to exactly the overlapping partitions") {
    val path = Files.createTempDirectory("mstats1").toString
    Manifest.write(mk(), path, Seq("p"), statsCols = Seq("id"))
    val st = Manifest.state(spark, path).get
    assert(st.statsCols.contains(Seq("id")))
    assert(st.entries.forall(_.stats.exists(_.contains("id"))))
    val schema = StructType.fromDDL(st.schemaDdl)
    val kept = Manifest.overlapping(st, schema, "id", Some(100), Some(110))
    assert(kept.map(_.part) == Seq("p=2"))
    // one-sided bounds
    assert(Manifest.overlapping(st, schema, "id", Some(120), None).map(_.part) == Seq("p=3"))
    assert(Manifest.overlapping(st, schema, "id", None, Some(19)).map(_.part) == Seq("p=1"))
  }

  test("readWhere never opens pruned entries (poisoned files) and still returns the exact filter result") {
    val path = Files.createTempDirectory("mstats2").toString
    Manifest.write(mk(), path, Seq("p"), statsCols = Seq("id"))
    val st = Manifest.state(spark, path).get
    // corrupt every file of the out-of-range partitions: any plan that
    // touches them crashes
    st.entries.filterNot(_.part == "p=2").foreach { e =>
      poison(s"$path/${e.dir}/${e.part}")
    }
    intercept[Exception] { // the unpruned scan DOES die on the poison
      Manifest.read(spark, path).filter(col("id").between(100, 110)).count()
    }
    val got = Manifest.readWhere(spark, path, "id", Some(100), Some(110))
    assert(got.count() == 11)
    assert(got.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(100L, 110L))
  }

  test("entries without stats are conservatively kept; residual filter keeps the result exact") {
    val path = Files.createTempDirectory("mstats3").toString
    Manifest.write(mk(), path, Seq("p"), statsCols = Seq("id"))
    // strip stats from p=1 (simulates a manifest written before stats
    // existed); it must be scanned despite the range missing it
    val st = Manifest.state(spark, path).get
    Manifest.commit(spark, path, st.copy(version = st.version + 1,
      entries = st.entries.map(e =>
        if (e.part == "p=1") e.copy(stats = None) else e)))
    val schema = StructType.fromDDL(st.schemaDdl)
    val st2 = Manifest.state(spark, path).get
    assert(Manifest.overlapping(st2, schema, "id", Some(100), Some(110))
      .map(_.part).toSet == Set("p=1", "p=2"))
    // result identical to the unpruned filter
    val want = Manifest.read(spark, path)
      .filter(col("id").between(100, 110)).orderBy("id").collect().toSeq
    val got = Manifest.readWhere(spark, path, "id", Some(100), Some(110))
      .orderBy("id").collect().toSeq
    assert(got == want)
  }

  test("unpartitioned tables track per-FILE stats; OPTIMIZE clustering makes readWhere skip files") {
    import spark.implicits._
    val path = Files.createTempDirectory("mstats5").toString
    val df = spark.range(400).toDF("id")
      .select(col("id"), (col("id") % 20).as("x"))
    Manifest.write(df, path, Seq.empty, statsCols = Seq("id"))
    // OPTIMIZE into 4 files clustered by id (Morton of (id,id) is
    // monotone in id → disjoint per-file id ranges)
    Manifest.optimizeZOrder(spark, path, "id", "id", nFiles = 4)
    val st = Manifest.state(spark, path).get
    assert(st.entries.size == 4 && st.entries.forall(_.part.endsWith(".parquet")))
    assert(st.entries.forall(_.stats.exists(_.contains("id"))))
    val schema = StructType.fromDDL(st.schemaDdl)
    val kept = Manifest.overlapping(st, schema, "id", Some(10), Some(60))
    assert(kept.size < st.entries.size, s"clustering should let [10,60] skip files: $st")
    // ground truth collected BEFORE poisoning; then corrupt every
    // skipped file — readWhere succeeds iff it never opens them
    val want = Manifest.read(spark, path)
      .filter(col("id").between(10, 60)).orderBy("id").collect().toSeq
    val keptNames = kept.map(_.part).toSet
    st.entries.filterNot(e => keptNames.contains(e.part)).foreach { e =>
      java.nio.file.Files.write(Paths.get(s"$path/${e.dir}/${e.part}"),
        Array.fill[Byte](64)(0x11))
    }
    val got = Manifest.readWhere(spark, path, "id", Some(10), Some(60))
      .orderBy("id").collect().toSeq
    assert(got == want && got.size == 51)
  }

  test("bloom skipping: interleaved keys defeat min/max but the per-entry bloom prunes to one partition") {
    import spark.implicits._
    val path = Files.createTempDirectory("mbloom").toString
    // keys INTERLEAVED across partitions: every partition spans the full
    // range (min/max stats admit everything), but each key lives in
    // exactly one partition — the shape only a bloom can skip
    val rows = Seq.tabulate(300)(i => (i % 3 + 1, i.toLong))
    Manifest.write(rows.toDF("p", "id"), path, Seq("p"),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val st = Manifest.state(spark, path).get
    val schema = StructType.fromDDL(st.schemaDdl)
    assert(st.entries.forall(_.bloom.exists(_.contains("id"))))
    // key 4 lives only in p=2 (4 % 3 + 1): range stats admit all 3
    // entries, the bloom narrows to p=2 (false positives would only ADD)
    val ranged = Manifest.overlapping(st, schema, "id", Some(4L), Some(4L))
    assert(ranged.size == 3)
    val admitted = Manifest.bloomAdmits(spark, st, schema, "id", 4L, ranged)
    assert(admitted.map(_.part).contains("p=2"))
    assert(admitted.size < 3) // bloom pruned at least one full-range entry
    // poison a partition the bloom excluded: readPoint must not open it
    val excluded = ranged.filterNot(e => admitted.exists(_.part == e.part)).head
    poison(s"$path/${excluded.dir}/${excluded.part}")
    val got = Manifest.readPoint(spark, path, "id", 4L).collect()
    assert(got.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((2, 4L)))
    // an absent key: no false negatives possible, result is empty —
    // through the bloom path, without touching the poisoned entry
    assert(Manifest.readPoint(spark, path, "id", 999L).count() == 0)
  }

  test("additive schema evolution: old commit dirs read under the new schema with nulls") {
    import spark.implicits._
    val path = Files.createTempDirectory("mevo").toString
    Manifest.write(mk(), path, Seq("p"))
    // v1 replaces only p=2 with a WIDER schema (new `note` column); the
    // committed schema evolves, old dirs keep their narrow files
    Manifest.replacePartitions(
      Seq((2, 100L, "fresh")).toDF("p", "id", "note"), path, Seq("p"))
    val now = Manifest.read(spark, path)
    assert(now.columns.toSeq == Seq("p", "id", "note"))
    assert(now.filter(col("p") === 2).select("note").head().getString(0) == "fresh")
    // untouched partitions surface the new column as null
    assert(now.filter(col("p") =!= 2 && col("note").isNotNull).count() == 0)
    assert(now.count() == 41)
    // time travel still serves the narrow schema
    assert(Manifest.read(spark, path, Some(0L)).columns.toSeq == Seq("p", "id"))
  }

  test("DML re-collects stats: deleteWhere and replacePartitions keep skipping correct") {
    val path = Files.createTempDirectory("mstats4").toString
    import spark.implicits._
    Manifest.write(mk(), path, Seq("p"), statsCols = Seq("id"))
    // delete the low half of p=2 → its fresh entry's min must rise to 110
    Manifest.deleteWhere(spark, path, col("id").between(100, 109))
    val st = Manifest.state(spark, path).get
    assert(st.statsCols.contains(Seq("id"))) // inherited, not re-passed
    assert(st.entries.find(_.part == "p=2").get.stats.get("id") == Seq("110", "119"))
    // replacePartitions with no explicit statsCols also inherits
    Manifest.replacePartitions(Seq((3, 500L)).toDF("p", "id"), path, Seq("p"))
    val st2 = Manifest.state(spark, path).get
    assert(st2.entries.find(_.part == "p=3").get.stats.get("id") == Seq("500", "500"))
    val schema = StructType.fromDDL(st2.schemaDdl)
    assert(Manifest.overlapping(st2, schema, "id", Some(400), None).map(_.part) == Seq("p=3"))
  }

  /** Entry parts kept by `overlapping` for `column` in `[lo, hi]`. */
  private def kept(path: String, column: String, lo: Option[Any],
      hi: Option[Any]): Seq[String] = {
    val st = Manifest.state(spark, path).get
    Manifest.overlapping(st, StructType.fromDDL(st.schemaDdl), column, lo, hi)
      .map(_.part)
  }

  /** `readWhere` equals `read` + the same filter, row for row. */
  private def assertReadWhereExact(path: String, column: String,
      lo: Option[Any], hi: Option[Any]): Unit = {
    val all = Manifest.read(spark, path)
    val cond = (lo.map(col(column) >= _) ++ hi.map(col(column) <= _))
      .reduceOption(_ && _).getOrElse(lit(true))
    val cols = all.columns.toSeq.map(col)
    val want = all.filter(cond).orderBy(cols: _*).collect().toSeq
    val got = Manifest.readWhere(spark, path, column, lo, hi)
      .orderBy(cols: _*).collect().toSeq
    assert(got == want, s"readWhere($column, $lo, $hi)")
  }

  test("partition values prune without stats: an int partition keeps exactly the matching part") {
    val path = Files.createTempDirectory("mpart1").toString
    Manifest.write(mk(), path, Seq("p"))
    assert(Manifest.state(spark, path).get.entries.forall(_.stats.isEmpty))
    assert(kept(path, "p", Some(2), Some(2)) == Seq("p=2"))
    assert(kept(path, "p", Some(2), None) == Seq("p=2", "p=3"))
    assert(kept(path, "p", None, Some(1)) == Seq("p=1"))
    assert(kept(path, "p", Some(4), None).isEmpty)
    // numeric, not lexical: 10 sorts after 9
    assert(kept(path, "p", Some(10), None).isEmpty)
    // a non-partition column without stats cannot prune
    assert(kept(path, "id", Some(100), Some(110)).size == 3)
    assertReadWhereExact(path, "p", Some(2), Some(2))
    assertReadWhereExact(path, "p", Some(2), None)
  }

  test("partition values that need escaping and the null partition prune on their real values") {
    import spark.implicits._
    val path = Files.createTempDirectory("mpart2").toString
    val rows = Seq(("a/b", 1L), ("a/b", 2L), ("x=y%", 3L), ("plain", 4L),
      (null, 5L), (null, 6L))
    Manifest.write(rows.toDF("s", "id"), path, Seq("s"), statsCols = Seq("id"))
    val parts = Manifest.state(spark, path).get.entries.map(_.part)
    assert(parts.contains("s=a%2Fb") && parts.contains("s=__HIVE_DEFAULT_PARTITION__"),
      s"unexpected leaf names: $parts")
    // stats key by the escaped leaf name too
    assert(Manifest.state(spark, path).get.entries.forall(_.stats.exists(_.contains("id"))))
    assert(kept(path, "s", Some("a/b"), Some("a/b")) == Seq("s=a%2Fb"))
    assert(kept(path, "s", Some("x=y%"), Some("x=y%")) == Seq("s=x%3Dy%25"))
    // null holds no row any bound admits; with no bound it is kept
    assert(!kept(path, "s", Some(""), None).contains("s=__HIVE_DEFAULT_PARTITION__"))
    assert(!kept(path, "s", None, Some("zzz")).contains("s=__HIVE_DEFAULT_PARTITION__"))
    assert(kept(path, "s", None, None).size == 4)
    assertReadWhereExact(path, "s", Some("a/b"), Some("a/b"))
    assertReadWhereExact(path, "s", Some("p"), None)
    assert(Manifest.readWhere(spark, path, "s", None, None).count() == 6)
    // DELETE on an escaped partition rewrites that partition only
    Manifest.deleteWhere(spark, path, col("id") === 1L)
    assert(Manifest.read(spark, path).orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(2L, 3L, 4L, 5L, 6L))
    assert(Manifest.state(spark, path).get.entries.count(_.part == "s=a%2Fb") == 1)
  }

  test("the second level of a two-level partition prunes by position") {
    import spark.implicits._
    val path = Files.createTempDirectory("mpart3").toString
    val rows = for (a <- 1 to 3; b <- Seq("x", "y", "z")) yield (a, b, a * 10L)
    Manifest.write(rows.toDF("a", "b", "id"), path, Seq("a", "b"))
    assert(kept(path, "b", Some("y"), Some("y")) == Seq("a=1/b=y", "a=2/b=y", "a=3/b=y"))
    assert(kept(path, "a", Some(3), None) == Seq("a=3/b=x", "a=3/b=y", "a=3/b=z"))
    assertReadWhereExact(path, "b", Some("y"), Some("y"))
    assertReadWhereExact(path, "b", None, Some("x"))
  }

  test("a one-partition readWhere over 40 leaves plans without a Spark job") {
    val path = Files.createTempDirectory("mpart4").toString
    Manifest.write(spark.range(400).select((col("id") % 40).cast("int").as("p"), col("id")),
      path, Seq("p"))
    assert(Manifest.state(spark, path).get.entries.size == 40)
    // 40 leaves is over Spark's 32-path parallel listing threshold: an
    // unpruned scan lists them in a Spark job
    val (df, work) = SparkWork.count(spark)(Manifest.readWhere(spark, path, "p", Some(7), Some(7)))
    assert(work.jobs == 0, s"planning launched $work")
    assert(df.count() == 10)
  }

  test("readPoint hashes its probe on the driver: equal to the Spark-computed xxhash64, no job") {
    import org.apache.spark.sql.types._
    Seq[(Any, DataType)](
      (4L, LongType), (4, IntegerType), (4, LongType), ("needle", StringType),
      (java.sql.Date.valueOf("2024-02-29"), DateType), ("2024-02-29", DateType)
    ).foreach { case (v, dt) =>
      val want = spark.range(1).select(xxhash64(lit(v).cast(dt))).head().getLong(0)
      assert(Manifest.probeHash(spark, v, dt) == want, s"$v as $dt")
    }
    import spark.implicits._
    val path = Files.createTempDirectory("mbloom2").toString
    Manifest.write(Seq.tabulate(300)(i => (i % 3 + 1, i.toLong)).toDF("p", "id"), path,
      Seq("p"), statsCols = Seq("id"), bloomCols = Seq("id"))
    val (df, work) = SparkWork.count(spark)(Manifest.readPoint(spark, path, "id", 4L))
    assert(work.jobs == 0, s"planning launched $work")
    assert(df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((2, 4L)))
  }
}
