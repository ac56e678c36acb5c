package graft

import org.apache.spark.sql.functions._

/** Pins [[graft.engine.Derived]] — the per-JVM derived-relation store
  * behind the shingle index and the minhash/simhash contractions: a
  * derivation builds exactly once per (name, dir), round-trips values
  * exactly, distinct keys stay isolated, and the registry clear makes
  * the next call rebuild (the scratch path is deleted and rewritten). */
class DerivedSpec extends SparkSpec {

  test("builds once per (name, dir), round-trips exactly, isolates keys") {
    import spark.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("derived_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("derived_b").toString
    var builds = 0
    def rel(tag: String) = {
      builds += 1
      Seq((1L, Seq(3L, 5L), tag), (2L, Seq.empty[Long], tag))
        .toDF("id", "xs", "tag")
    }
    val a1 = graft.engine.Derived.cached(spark, "spec_rel", dirA)(rel("a")).collect()
    val a2 = graft.engine.Derived.cached(spark, "spec_rel", dirA)(rel("never"))
    val b1 = graft.engine.Derived.cached(spark, "spec_rel", dirB)(rel("b"))
    assert(builds == 2, s"expected one build per key, saw $builds")
    assert(a2.collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2))).toSet ==
      a1.map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2))).toSet)
    assert(b1.collect().forall(_.getString(2) == "b"), "keys leaked across dirs")
    // a second NAME over the same dir is its own entry
    graft.engine.Derived.cached(spark, "spec_rel2", dirA)(rel("c"))
    assert(builds == 3)
    // clear(): the next call rebuilds (delete-then-write on the same
    // JVM-keyed scratch path)
    graft.engine.Derived.clear()
    val a3 = graft.engine.Derived.cached(spark, "spec_rel", dirA)(rel("rebuilt"))
    assert(builds == 4)
    assert(a3.collect().forall(_.getString(2) == "rebuilt"))
  }

  test("a derivation may itself consume another derivation (no recursive-update)") {
    // builds run under the slot's own lock, OUTSIDE the registry map's
    // bin lock — a nested Derived.cached call inside a build thunk must
    // not throw ConcurrentHashMap's "Recursive update" ISE
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("derived_nested").toString
    val outer = graft.engine.Derived.cached(spark, "spec_outer", dir) {
      val inner = graft.engine.Derived.cached(spark, "spec_inner", dir) {
        Seq((1L, 10L), (2L, 20L)).toDF("id", "x")
      }
      inner.withColumn("x", col("x") * 2)
    }
    assert(outer.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 20L), (2L, 40L)))
    // the inner entry registered independently and serves on its own
    val inner2 = graft.engine.Derived.cached(spark, "spec_inner", dir) {
      sys.error("inner must already be cached"): org.apache.spark.sql.DataFrame
    }
    assert(inner2.count() == 2)
  }

  test("rowCount serves footer metadata: exact, memoized, zero Spark executions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("derived_count").toString
    // build it first so the count path has nothing left to materialize
    graft.engine.Derived.cached(spark, "spec_cnt", dir) {
      spark.range(0, 12345).select(col("id"), (col("id") * 2).as("x"))
    }
    val (_, work) = SparkWork.count(spark) {
      val n = graft.engine.Derived.rowCount(spark, "spec_cnt", dir) {
        sys.error("already built"): org.apache.spark.sql.DataFrame
      }
      assert(n == 12345L)
      // second call serves the memo
      assert(graft.engine.Derived.rowCount(spark, "spec_cnt", dir) {
        sys.error("already built"): org.apache.spark.sql.DataFrame
      } == 12345L)
    }
    // the guard promise: footer metadata, never a Spark job
    assert(work.sqlExecutions == 0 && work.jobs == 0,
      s"rowCount scheduled $work — must be footer-only")
  }

  test("store: a directory build runs once per (name, dir) and the path is stable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("derived_store").toString
    var builds = 0
    def populate(p: String): Unit = {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .write.mode("overwrite").parquet(s"$p/v0")
      Seq((3L, "c")).toDF("id", "s")
        .write.mode("overwrite").parquet(s"$p/v1")
    }
    val p1 = graft.engine.Derived.store(spark, "spec_store", dir)(populate(_))
    val p2 = graft.engine.Derived.store(spark, "spec_store", dir)(populate(_))
    assert(builds == 1 && p1 == p2, s"store rebuilt or moved: builds=$builds")
    assert(spark.read.parquet(s"$p1/v0").count() == 2)
    assert(spark.read.parquet(s"$p1/v1").count() == 1)
    // a different name over the same dir is its own store
    val p3 = graft.engine.Derived.store(spark, "spec_store2", dir)(populate(_))
    assert(builds == 2 && p3 != p1)
  }

  test("cached and store namespaces are disjoint by construction") {
    import spark.implicits._
    // the latent-collision shape the r15 advice flagged: a cached
    // relation named "store_x" and a store named "x" must resolve to
    // DIFFERENT scratch paths (prefix-string namespacing alone would
    // alias them onto one directory and the second build would
    // delete-and-overwrite the first's files)
    val dir = java.nio.file.Files.createTempDirectory("derived_ns").toString
    val rel = graft.engine.Derived.cached(spark, "store_x", dir) {
      Seq((1L, "rel")).toDF("id", "who")
    }
    val storePath = graft.engine.Derived.store(spark, "x", dir) { p =>
      Seq((2L, "store")).toDF("id", "who")
        .write.mode("overwrite").parquet(s"$p/t")
    }
    // both entries still serve their own content
    assert(rel.collect().map(_.getString(1)).toSeq == Seq("rel"))
    assert(spark.read.parquet(s"$storePath/t")
      .collect().map(_.getString(1)).toSeq == Seq("store"))
    val relAgain = graft.engine.Derived.cached(spark, "store_x", dir) {
      sys.error("must be cached"): org.apache.spark.sql.DataFrame
    }
    assert(relAgain.collect().map(_.getString(1)).toSeq == Seq("rel"),
      "store build overwrote the cached relation's files — shared path")
  }

  test("a failed build is not cached — the next call retries") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("derived_fail").toString
    var attempts = 0
    def flaky() = {
      attempts += 1
      if (attempts == 1) sys.error("transient build failure")
      Seq((1L, 1L)).toDF("id", "x")
    }
    intercept[RuntimeException] {
      graft.engine.Derived.cached(spark, "spec_flaky", dir)(flaky())
    }
    val ok = graft.engine.Derived.cached(spark, "spec_flaky", dir)(flaky())
    assert(ok.count() == 1 && attempts == 2)
  }
}
