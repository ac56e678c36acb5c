package graft

import org.apache.spark.sql.SparkSession

/** Session tuning shared by Verify, Bench, and tests. Local-mode values;
  * on a real cluster only master/memory change — the SQL confs carry over.
  */
object Sessions {

  /** Confs required for correctness (not just speed) — e.g. reading the
    * nanosecond-timestamp events fixture and UTC determinism. Everything
    * set here is CLUSTER-SAFE: a deploy that copies tune() verbatim gets
    * correct, sane behavior. Local-only perf flips live in [[localTune]].
    *
    * Also installs [[GraftExtensions]], the only registration path for
    * the native functions (dot_double, minhash_sig, topk_by, …): every
    * session built through here has them in its registry from birth, so
    * operator correctness never depends on which query ran first. */
  def tune(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // NOTE (measured, round 7): parallelismFirst=false + an 8 MB
      // advisory size — the "coalesce tiny shuffles harder" theory —
      // regressed a 12-query probe 47.6 -> 68.2 s (triangle_counts
      // 5.7 -> 15.8): byte-small shuffles here are often CPU-heavy per
      // row (adjacency intersects, signature verifies), and losing
      // cores costs far more than the saved task scheduling. Keep the
      // default parallelism-first coalescing.
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")

  /** [[tune]] plus LOCAL-MODE-ONLY perf flips that would be HARMFUL on a
    * real cluster — kept out of tune() so a deploy inheriting the shared
    * confs never ships them (round-7 ADVICE). Entry points that are
    * local by construction (Bench, ScaleProbe, Verify, tests) use this.
    *
    * Shuffle compression: shuffle blocks never cross a network in local
    * mode, so lz4 on the shuffle path is pure CPU overhead against the
    * page cache (measured: 12-query probe 50.3 -> 48.5 s). On a cluster
    * KEEP BOTH TRUE — network + disk bandwidth dominate and compression
    * wins. */
  def localTune(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    tune(b, cpus)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      // pinning the driver address is correct ONLY where driver and
      // executors share a host — on a cluster it must stay resolvable
      .config("spark.driver.host", "localhost")
      // long-lived measurement session hygiene: the status store retains
      // per-execution plan graphs and per-job/stage/task rows for the UI
      // (even with the UI off) — across a 175-query × 3-pass bench that
      // state grows without bound and the listener bookkeeping taxes
      // LATE queries (queries measured mid-set read up to +45% over
      // their isolated medians; the heavier the query's job count, the
      // bigger the in-set penalty). Keep only a small tail.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      // codegen CLASS cache (static conf, default 100 entries): a
      // long-lived driver cycling 178 distinct queries × multiple
      // codegen units each thrashes a 100-entry LRU, so every timed
      // pass re-runs Janino INSIDE the query timer and refills the JVM
      // code cache with duplicate classes (measured: 296 s cumulative
      // JIT time over a 60-query × 4-execution probe; late-set
      // iteration-heavy queries inflate ~2× in the full 178-set while
      // a 60-query prefix shows no tax). Size it to hold every unit of
      // the whole query surface — the same setting a real multi-query
      // service driver would run with.
      .config("spark.sql.codegen.cache.maxEntries", "5000")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = localTune(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release EVERYTHING a finished query may have pinned in the block
    * manager. `clearCache()` alone is not enough: `localCheckpoint`
    * blocks (e.g. the dedup connected-components fixpoints) are
    * persisted RDDs OUTSIDE the catalog cache and survive it — in a
    * long-lived session they accumulate until driver GC happens to let
    * the ContextCleaner reap them, bleeding storage/execution memory
    * into whatever runs next (the round-4 bench interference). Safe to
    * call between queries: prior DataFrames are dead, so no live
    * lineage can need the dropped blocks. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
  }

  /** [[releaseAll]] + BLOCK until the ContextCleaner settles. The gc()
    * above only ENQUEUES cleanup: broadcast/shuffle/checkpoint removal
    * runs on the cleaner thread asynchronously — i.e., by default DURING
    * whatever is timed next (round-10 verdict #3: late-set queries pay a
    * tax that isolated re-probes of the same JVM don't). Draining here
    * charges the cleanup to the isolation gap, where it belongs.
    *
    * The cleaner's tracked-reference buffer is reached reflectively
    * (`SparkContext.cleaner` is private[spark] — public in bytecode —
    * and `referenceBuffer` is a private field); measurement-harness-only
    * code, never on a query path. Settle criterion (round-11 ADVICE: the
    * old "stable across two 50 ms polls" could be satisfied BEFORE
    * cleanup even started — after System.gc() the dead weak refs may not
    * be enqueued yet, so the buffer is momentarily stable while cleanup
    * is still pending): once a SHRINK has been observed, two stable
    * polls mean cleanup ran and finished; if no shrink is ever seen,
    * require four stable polls (~200 ms — the cleaner thread polls its
    * reference queue on a 100 ms timeout, so pending cleanup has begun
    * by then) before concluding nothing was dead. Hard 2 s deadline
    * either way; any reflection failure degrades to plain releaseAll. */
  def releaseAndDrain(spark: SparkSession): Unit = {
    releaseAll(spark)
    try {
      val sc = spark.sparkContext
      val cleaner = sc.getClass.getMethod("cleaner").invoke(sc)
        .asInstanceOf[Option[AnyRef]]
      cleaner.foreach { c =>
        // scalac may or may not mangle the private field name depending
        // on inner-class access — match by suffix
        val f = c.getClass.getDeclaredFields
          .find(_.getName.endsWith("referenceBuffer"))
          .getOrElse(throw new NoSuchFieldException("referenceBuffer"))
        f.setAccessible(true)
        val buf = f.get(c).asInstanceOf[java.util.Set[_]]
        val deadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
        var prev = -1
        var stable = 0
        var shrunk = false
        while (stable < (if (shrunk) 2 else 4) && System.nanoTime() < deadline) {
          val s = buf.size()
          if (prev >= 0 && s < prev) shrunk = true
          if (s == prev) stable += 1 else stable = 0
          prev = s
          Thread.sleep(50)
        }
      }
    } catch { case _: Throwable => () }
  }
}
