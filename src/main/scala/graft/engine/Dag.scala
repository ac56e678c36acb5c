package graft.engine

/** Driver-side pipeline DAG runner — the stand-in for the reference's
  * Airflow orchestration (`dags/product.py:381-388` chains extract ×4 →
  * silver → gold with dependencies and per-task retries;
  * `docker-compose.airflow.yaml:56` supplies the scheduler). No scheduler
  * ships in this environment, so orchestration is a library call: tasks
  * declare dependencies, the runner executes them in dependency order
  * with bounded per-task retries.
  *
  * Execution model (same split as Airflow-over-Spark): the DAG walk is
  * DRIVER-side control flow — cheap, a handful of tasks — while all data
  * parallelism lives inside each task's Spark job. Launch follows
  * Airflow's semantics: a task starts as soon as its own dependencies
  * have succeeded and one of `parallelism` slots is free (the reference
  * caps a DAG at `max_active_tasks=3`, `dags/sales.py:34`) — it never
  * waits for unrelated tasks that happen to share its depth. When more
  * tasks are ready than slots, the one heading the longest chain of
  * dependents goes first (ties by name), so the critical path is not
  * queued behind leaves. Retries compose with the engine's idempotent
  * loaders ([[ExtractLoad.run]], [[Layers.replacePartitionsPath]]), so a
  * task that dies mid-write re-runs safely — the property the spec
  * proves end-to-end.
  */
object Dag {

  /** @param maxAttempts total tries (1 = no retry), mirroring Airflow's
    *   per-task `retries` + 1. */
  final case class Task(name: String, deps: Seq[String], body: () => Unit,
      maxAttempts: Int = 3)

  /** @param order completion order (a valid topological order)
    * @param attempts tries actually used per task (1 = first-try success) */
  final case class Report(order: Seq[String], attempts: Map[String, Int])

  final class TaskFailed(val task: String, val tries: Int, cause: Throwable)
    extends RuntimeException(s"pipeline task '$task' failed after $tries attempts", cause)

  /** Run the DAG to completion (or throw [[TaskFailed]] on the first task
    * that exhausts its retries — no task starts after that, tasks already
    * running finish their writes cleanly before the failure surfaces,
    * upstream results stay where their idempotent sinks put them, and a
    * re-run of the whole DAG converges, as the reference's
    * retry-the-DAG model assumes). Throws on unknown dependencies and
    * cycles before any task runs. */
  def run(tasks: Seq[Task], parallelism: Int = 1): Report = {
    val byName = tasks.map(t => t.name -> t).toMap
    require(byName.size == tasks.size, "duplicate task names in pipeline DAG")
    for (t <- tasks; d <- t.deps)
      require(byName.contains(d), s"task '${t.name}' depends on unknown task '$d'")
    val dependents = tasks.flatMap(t => t.deps.distinct.map(_ -> t.name)).groupMap(_._1)(_._2)
    val rank = chainLengths(tasks, dependents)

    def attempt(t: Task): Int = {
      var tries = 0
      var last: Throwable = null
      while (tries < t.maxAttempts) {
        tries += 1
        // NonFatal only: retrying after OutOfMemoryError / interruption
        // masks a broken JVM as a transient failure
        try { t.body(); return tries }
        catch { case scala.util.control.NonFatal(e) => last = e }
      }
      throw new TaskFailed(t.name, tries, last)
    }

    val waitingOn = scala.collection.mutable.Map.from(tasks.map(t => t.name -> t.deps.distinct.size))
    // dequeues the longest chain first, ties by ascending name
    val ready = scala.collection.mutable.PriorityQueue.empty[Task](
      Ordering.by((t: Task) => (rank(t.name), t.name))(
        Ordering.Tuple2(Ordering.Int, Ordering.String.reverse)))
    ready ++= tasks.filter(_.deps.isEmpty)
    val settled = new java.util.concurrent.LinkedBlockingQueue[(Task, scala.util.Try[Int])]()
    val slots = math.max(1, parallelism)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    try {
      val order = Seq.newBuilder[String]
      val attempts = Map.newBuilder[String, Int]
      var running = 0
      var failure: Option[Throwable] = None
      while (running > 0 || (failure.isEmpty && ready.nonEmpty)) {
        while (failure.isEmpty && running < slots && ready.nonEmpty) {
          val t = ready.dequeue()
          running += 1
          // any Throwable, fatal ones too, must reach the loop, or it
          // would wait forever on a task that never settles
          pool.execute(() => settled.put(t ->
            (try scala.util.Success(attempt(t))
             catch { case e: Throwable => scala.util.Failure(e) })))
        }
        val (t, r) = settled.take()
        running -= 1
        r match {
          case scala.util.Success(a) =>
            order += t.name; attempts += t.name -> a
            for (d <- dependents.getOrElse(t.name, Nil)) {
              waitingOn(d) -= 1
              if (waitingOn(d) == 0) ready += byName(d)
            }
          case scala.util.Failure(e) => if (failure.isEmpty) failure = Some(e)
        }
      }
      failure.foreach(throw _)
      Report(order.result(), attempts.result())
    } finally pool.shutdown()
  }

  /** Per task, the number of tasks on its longest chain of dependents
    * (0 for a sink) — the launch priority among ready tasks. Throws on a
    * cycle. */
  private def chainLengths(tasks: Seq[Task],
      dependents: Map[String, Seq[String]]): Map[String, Int] = {
    val memo = scala.collection.mutable.Map.empty[String, Int]
    // `path`: the dependents walked to reach `n`, innermost first
    def length(n: String, path: List[String]): Int = memo.get(n) match {
      case Some(l) => l
      case None =>
        if (path.contains(n))
          throw new IllegalStateException("cycle in pipeline DAG among: " +
            (n :: path.takeWhile(_ != n)).sorted.mkString(", "))
        val l = dependents.getOrElse(n, Nil).map(length(_, n :: path) + 1).maxOption.getOrElse(0)
        memo(n) = l
        l
    }
    tasks.map(t => t.name -> length(t.name, Nil)).toMap
  }
}
