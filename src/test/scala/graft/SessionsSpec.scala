package graft

import org.apache.spark.sql.functions._

class SessionsSpec extends SparkSpec {

  test("cluster-safe tune() sets no local-only keys; localTune() carries them all") {
    import org.apache.spark.sql.SparkSession
    // builder options via reflection: the spec must see what a deploy
    // copying tune() verbatim would actually ship, without creating a
    // second session in the shared test JVM
    def opts(b: SparkSession.Builder): Map[String, String] = {
      var c: Class[_] = b.getClass
      var fld: java.lang.reflect.Field = null
      while (c != null && fld == null) {
        fld = c.getDeclaredFields.find(_.getName.endsWith("options")).orNull
        if (fld == null) c = c.getSuperclass
      }
      assert(fld != null, "SparkSession.Builder no longer has an options field")
      fld.setAccessible(true)
      fld.get(b).asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap
    }
    val localOnly = Seq("spark.shuffle.compress", "spark.shuffle.spill.compress",
      "spark.driver.host")
    val t = opts(Sessions.tune(SparkSession.builder(), "4"))
    localOnly.foreach(k =>
      assert(!t.contains(k), s"cluster-safe tune() must not set local-only $k"))
    // the correctness-bearing confs must be in the cluster-safe set
    Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.adaptive.enabled").foreach(k => assert(t.contains(k)))
    val lt = opts(Sessions.localTune(SparkSession.builder(), "4"))
    localOnly.foreach(k => assert(lt.contains(k), s"localTune() must carry $k"))
  }

  test("releaseAll frees localCheckpoint blocks that clearCache alone leaves pinned") {
    // a localCheckpoint registers a persisted RDD OUTSIDE the catalog
    // cache — the round-4 bench interference mechanism
    val df = Tables.orders(spark, sf).limit(100).localCheckpoint(true)
    df.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    spark.catalog.clearCache()
    // catalog cache clearing does NOT free them — this is the trap
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Sessions.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"still pinned: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("releaseAll frees a materialized localCheckpoint without a WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("releaseAll-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        warns.add(e.getMessage.getFormattedMessage); ()
      }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try {
      val df = Tables.orders(spark, sf).limit(100).localCheckpoint(true)
      df.count()
      assert(spark.sparkContext.getRDDStorageInfo.nonEmpty)
      Sessions.releaseAll(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(spark.sparkContext.getRDDStorageInfo.isEmpty)
    } finally root.removeAppender(capture)
    assert(!warns.toArray.exists(_.toString.contains("was locally checkpointed")),
      warns.toArray.mkString("\n"))
  }

  test("releaseAll also drops catalog-cached relations") {
    val df = Tables.customer(spark, sf).cache()
    df.count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    Sessions.releaseAll(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("releaseAndDrain reaches the ContextCleaner's reference buffer and settles it") {
    // the drain must actually FIND the cleaner internals on this Spark
    // version (reflection breaks silently otherwise) — prove it by
    // watching the tracked-reference count fall after dead broadcasts
    // are released. A broadcast join registers a tracked broadcast; once
    // the query result is dead, releaseAndDrain's gc + settle-wait must
    // shrink the buffer (fire-and-forget releaseAll makes no such
    // guarantee at return time — that asynchrony IS the in-set tax).
    val sc = spark.sparkContext
    val cleaner = sc.getClass.getMethod("cleaner").invoke(sc)
      .asInstanceOf[Option[AnyRef]]
    assert(cleaner.nonEmpty, "local session must have a ContextCleaner")
    val f = cleaner.get.getClass.getDeclaredFields
      .find(_.getName.endsWith("referenceBuffer"))
    assert(f.nonEmpty,
      "ContextCleaner.referenceBuffer not found — drain is silently inert on this Spark")
    f.get.setAccessible(true)
    def tracked = f.get.get(cleaner.get).asInstanceOf[java.util.Set[_]].size()
    // create dead tracked state: broadcast-joined queries, then drop refs
    (1 to 5).foreach { _ =>
      Tables.orders(spark, sf).limit(500)
        .join(broadcast(Tables.customer(spark, sf).limit(100)),
          col("o_custkey") === col("c_custkey")).count()
    }
    val before = tracked
    assert(before > 0, "broadcast joins must leave tracked references")
    // System.gc() is advisory — the JVM guarantees nothing on one call
    // (round-11 ADVICE: single-shot assert is a latent CI flake). Retry
    // the gc+drain round a few times before asserting collection.
    var rounds = 0
    while (tracked >= before && rounds < 3) {
      Sessions.releaseAndDrain(spark)
      rounds += 1
    }
    assert(tracked < before,
      s"drain must settle dead references within 3 gc+drain rounds: " +
        s"before=$before after=$tracked")
  }
}
