package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import graft.engine.{Dag, ExtractLoad, Layers}

/** Orchestration semantics (VERDICT r2 #8): dependency order, per-task
  * retries, and — the part that matters — retries COMPOSING with the
  * idempotent loaders so an injected mid-DAG failure leaves the final
  * tables identical to a run with no failure. */
class DagRunnerSpec extends SparkSpec {

  test("dependency order respected; independent wave runs before dependents") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val r = Dag.run(Seq(
      Dag.Task("gold", Seq("silver"), () => { log.add("gold"); () }),
      Dag.Task("extract_b", Seq.empty, () => { log.add("extract_b"); () }),
      Dag.Task("silver", Seq("extract_a", "extract_b"), () => { log.add("silver"); () }),
      Dag.Task("extract_a", Seq.empty, () => { log.add("extract_a"); () })
    ), parallelism = 2)
    val order = log.toArray(Array.empty[String]).toSeq
    assert(order.indexOf("silver") > order.indexOf("extract_a"))
    assert(order.indexOf("silver") > order.indexOf("extract_b"))
    assert(order.indexOf("gold") > order.indexOf("silver"))
    assert(r.order.toSet == Set("extract_a", "extract_b", "silver", "gold"))
    assert(r.attempts.values.forall(_ == 1))
  }

  test("flaky task retries to success and records its attempts") {
    val n = new AtomicInteger(0)
    val r = Dag.run(Seq(
      Dag.Task("flaky", Seq.empty,
        () => if (n.incrementAndGet() < 3) throw new RuntimeException("transient"),
        maxAttempts = 3)))
    assert(r.attempts("flaky") == 3 && n.get() == 3)
  }

  test("exhausted retries abort: downstream never starts, failure names the task") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val e = intercept[Dag.TaskFailed] {
      Dag.run(Seq(
        Dag.Task("boom", Seq.empty, () => throw new RuntimeException("dead"), maxAttempts = 2),
        Dag.Task("after", Seq("boom"), () => { ran.add("after"); () })))
    }
    assert(e.task == "boom" && e.tries == 2)
    assert(!ran.contains("after"))
  }

  test("cycles and unknown deps are rejected") {
    intercept[IllegalStateException] {
      Dag.run(Seq(
        Dag.Task("a", Seq("b"), () => ()),
        Dag.Task("b", Seq("a"), () => ())))
    }
    intercept[IllegalArgumentException] {
      Dag.run(Seq(Dag.Task("a", Seq("ghost"), () => ())))
    }
  }

  test("a task starts once its own deps are done, while an unrelated slow task still runs") {
    val childStarted = new java.util.concurrent.CountDownLatch(1)
    @volatile var sawChildWhileSlow = false
    Dag.run(Seq(
      // a wave runner holds `child` until `slow` ends: the wait times out
      Dag.Task("slow", Seq.empty, () => {
        sawChildWhileSlow = childStarted.await(10, java.util.concurrent.TimeUnit.SECONDS)
      }),
      Dag.Task("fast", Seq.empty, () => ()),
      Dag.Task("child", Seq("fast"), () => childStarted.countDown())
    ), parallelism = 2)
    assert(sawChildWhileSlow, "child waited for the unrelated slow task")
  }

  test("after a failure no new task starts, and running siblings finish before TaskFailed") {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val boomThrown = new java.util.concurrent.CountDownLatch(1)
    @volatile var siblingFinished = false
    val e = intercept[Dag.TaskFailed] {
      Dag.run(Seq(
        Dag.Task("a_boom", Seq.empty, () => {
          started.add("a_boom"); boomThrown.countDown(); throw new RuntimeException("dead")
        }, maxAttempts = 1),
        Dag.Task("b_sibling", Seq.empty, () => {
          started.add("b_sibling")
          boomThrown.await()
          Thread.sleep(300) // still running when the runner sees the failure
          siblingFinished = true
        }),
        Dag.Task("c_later", Seq.empty, () => { started.add("c_later"); () }),
        Dag.Task("d_after_sibling", Seq("b_sibling"), () => { started.add("d_after_sibling"); () })
      ), parallelism = 2)
    }
    assert(e.task == "a_boom")
    assert(siblingFinished, "TaskFailed surfaced before the running sibling finished")
    assert(started.toArray.toSet == Set("a_boom", "b_sibling"))
  }

  test("Report.order is a topological order of every task") {
    val rnd = new scala.util.Random(11)
    val names = (0 until 30).map(i => f"t$i%02d")
    // edges only point backwards in `names`, so the graph is acyclic
    val tasks = names.zipWithIndex.map { case (n, i) =>
      val deps = names.take(i).filter(_ => rnd.nextInt(6) == 0)
      val ms = rnd.nextInt(15).toLong
      Dag.Task(n, deps, () => Thread.sleep(ms))
    }
    val r = Dag.run(rnd.shuffle(tasks), parallelism = 3)
    assert(r.order.sorted == names)
    val pos = r.order.zipWithIndex.toMap
    for (t <- tasks; d <- t.deps)
      assert(pos(d) < pos(t.name), s"${t.name} completed before its dep $d")
  }

  test("with parallelism 1, ready tasks launch longest chain of dependents first, then by name") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def t(name: String, deps: String*) = Dag.Task(name, deps, () => { log.add(name); () })
    // chain lengths: z_head 2, m_head 1, y_mid 1, the rest 0
    val r = Dag.run(Seq(
      t("a_leaf"), t("m_head"), t("n_tail", "m_head"),
      t("x_tail", "y_mid"), t("y_mid", "z_head"), t("z_head")))
    val expected = Seq("z_head", "m_head", "y_mid", "a_leaf", "n_tail", "x_tail")
    assert(log.toArray.toSeq == expected)
    assert(r.order == expected)
  }

  /** The product-pipeline analog: extract events + orders in parallel →
    * silver conform → gold aggregate, run once cleanly and once with the
    * silver task dying AFTER its write on the first attempt. The retry
    * re-runs the idempotent partition-replace, so both runs must produce
    * byte-identical gold aggregates. */
  test("injected mid-DAG failure + retry converges to the no-failure result") {
    def pipeline(root: String, failSilverOnce: Boolean): Unit = {
      val failed = new AtomicInteger(0)
      val tasks = Seq(
        Dag.Task("extract_events", Seq.empty, () => {
          ExtractLoad.run(spark, Tables.events(spark, sf), "events",
            "event_id", "ts", s"$root/ckpt_events", s"$root/bronze_events", "2024-03-01")
          ()
        }),
        Dag.Task("extract_orders", Seq.empty, () => {
          Layers.replacePartitionsPath(
            Tables.orders(spark, sf).withColumn("ingestion_date", to_date(lit("2024-03-01"))),
            s"$root/bronze_orders", Seq("ingestion_date"))
        }),
        Dag.Task("silver", Seq("extract_events", "extract_orders"), () => {
          val ev = spark.read.parquet(s"$root/bronze_events")
            .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
          val od = spark.read.parquet(s"$root/bronze_orders")
            .groupBy(col("o_custkey").as("user_id")).agg(count(lit(1)).as("n_orders"))
          val joined = ev.join(od, Seq("user_id"), "full")
            .na.fill(0L, Seq("n_events", "n_orders"))
            .withColumn("bucket", pmod(col("user_id"), lit(8)))
          Layers.replacePartitionsPath(joined, s"$root/silver", Seq("bucket"))
          // die AFTER the write — the classic torn run a retry must absorb
          if (failSilverOnce && failed.incrementAndGet() == 1)
            throw new RuntimeException("injected post-write crash")
        }, maxAttempts = 2),
        Dag.Task("gold", Seq("silver"), () => {
          val g = spark.read.parquet(s"$root/silver")
            .groupBy(col("bucket"))
            .agg(sum(col("n_events")).as("events"), sum(col("n_orders")).as("orders"),
              count(lit(1)).as("users"))
          Layers.replacePartitionsPath(g, s"$root/gold", Seq("bucket"))
        }))
      val report = Dag.run(tasks, parallelism = 2)
      assert(report.attempts("silver") == (if (failSilverOnce) 2 else 1))
    }

    val clean = Files.createTempDirectory("dag_clean").toString
    val crashy = Files.createTempDirectory("dag_crash").toString
    pipeline(clean, failSilverOnce = false)
    pipeline(crashy, failSilverOnce = true)
    val a = spark.read.parquet(s"$clean/gold").orderBy("bucket").collect().toSeq
    val b = spark.read.parquet(s"$crashy/gold").orderBy("bucket").collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
