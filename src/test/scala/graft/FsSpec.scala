package graft

import org.apache.spark.sql.functions._

/** Pins [[graft.engine.Fs]]'s portability helpers — the file plumbing
  * every derived store, manifest and maintenance query routes through:
  * setMtime round-trips through the FileSystem API (the object-store-
  * safe form of File.setLastModified), and parquetRowCount counts footer metadata per path SEGMENT (an
  * underscore-valued partition is data; a _SUCCESS-only empty relation
  * is a true 0, not a blind spot). */
class FsSpec extends SparkSpec {
  import graft.engine.Fs

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("setMtime/mtime round-trip through the FileSystem API") {
    val root = tmp("fs_mtime")
    val f = s"$root/part-0"
    java.nio.file.Files.write(java.nio.file.Paths.get(f), "x".getBytes)
    val t = 1700000000000L
    Fs.setMtime(spark, f, t)
    assert(Fs.mtime(spark, f) == t)
    assert(Fs.listFiles(spark, root).map(_.getName) == Seq("part-0"))
    assert(Fs.listFiles(spark, s"$root/missing").isEmpty)
  }

  test("parquetRowCount: segment-scoped metadata filter and true-zero relations") {
    import spark.implicits._
    val root = tmp("fs_count")
    // a partition VALUE starting with an underscore is DATA — only path
    // segments that are themselves metadata (_SUCCESS, _temporary/...)
    // may be skipped
    val p1 = s"$root/part_val"
    Seq(("_x", 1L), ("_x", 2L), ("y", 3L)).toDF("k", "v")
      .write.partitionBy("k").parquet(p1)
    assert(Fs.parquetRowCount(spark, p1) == 3L,
      "files under an underscore-valued partition were skipped")
    // a committed-but-empty layout (_SUCCESS with no part files — what
    // a 0-partition write leaves): 0 is the true count, not a blind
    // spot to refuse on
    val p2 = s"$root/empty"
    new java.io.File(p2).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$p2/_SUCCESS"),
      Array.empty[Byte])
    assert(Fs.parquetRowCount(spark, p2) == 0L,
      "a _SUCCESS-only layout must report a true 0, not refuse")
    // no committed-write evidence at all stays LOUD
    val p3 = s"$root/garbage"
    new java.io.File(p3).mkdirs()
    intercept[IllegalArgumentException](Fs.parquetRowCount(spark, p3))
  }

  test("readParquet: Spark's inferred schema, resolved without a Spark job") {
    import spark.implicits._
    val fixtures = new java.io.File(sf).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(fixtures.exists(_.endsWith("events.parquet")), fixtures)
    // a Spark-written dir: two partition levels, one value escaped,
    // a null partition, _SUCCESS beside the data
    val root = tmp("fs_readpq")
    val parted = s"$root/parted"
    Seq((1L, "a/b", 1, 0.5), (2L, null, 2, 1.5), (3L, "c", 2, 2.5)).toDF("id", "s", "n", "x")
      .write.partitionBy("n", "s").parquet(parted)
    (fixtures :+ parted).foreach { p =>
      val want = spark.read.parquet(p).schema
      val (got, work) = SparkWork.count(spark)(Fs.readParquet(spark, p).schema)
      assert(got == want, p)
      assert(work.jobs == 0, s"$p: $work")
    }
    assert(Fs.readParquet(spark, parted).orderBy("id").collect().toSeq ==
      spark.read.parquet(parted).orderBy("id").collect().toSeq)
  }

  test("readParquet fails as spark.read.parquet does where there is no data file") {
    val root = tmp("fs_readpq_err")
    val empty = s"$root/empty"
    new java.io.File(empty).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$empty/_SUCCESS"), Array.empty[Byte])
    Seq(empty, s"$root/missing").foreach { p =>
      val want = intercept[Exception](spark.read.parquet(p)).getClass
      val got = intercept[Exception](Fs.readParquet(spark, p)).getClass
      assert(got == want, p)
    }
  }
}
