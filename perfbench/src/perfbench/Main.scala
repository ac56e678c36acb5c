package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JVM side of the benchmark: one workload, one run, over inputs the
  * generator (perfbench/gen.py) wrote.
  *
  *   perfbench.Main --workload <name> --inputs <dir> --trace <0|1> --seconds <s>
  *     --root <scratch dir> --cpus <n> --launch-ms <epoch ms the JVM was launched>
  *
  * Writes `<root>/jvm_result.json`: set-up and operation timings, memory
  * and JIT/GC time, the spans of a traced run, and what the post-run
  * oracle check must compare. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = opt("root")
    val cpus = opt("cpus").toInt
    val launchMs = opt("launch-ms").toLong

    val spark = graft.Sessions.localTune(SparkSession.builder().master(s"local[$cpus]"), cpus.toString)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val trace = new Trace(traced, spark.sparkContext)
    // the Dag pool plus the blocked driver thread stay within nproc threads
    val par = math.max(1, cpus - 1)

    val w: Workload = workload match {
      case "medallion_incremental" => new Incremental(spark, trace, inputs, root, par)
      case "corpus_curation" => new Curation(spark, trace, inputs, root, par)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val prepare = timed(w.prepare())
    val warm = timed(w.warmup())
    w.startWindow()

    // CPU time the host gave other guests while this one was runnable
    // (the steal column of /proc/stat, in 1/100 s ticks)
    def stealTicks = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .lift(8).map(_.toLong).getOrElse(0L)
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (gc0, jit0, steal0) = (gcMs, jitMs, stealTicks)
    val writes = Vector.newBuilder[Double]
    val reads = Vector.newBuilder[Double]
    val serves = Vector.newBuilder[Double]
    var attempted = 0L
    var failed = 0L
    val errors = Vector.newBuilder[String]
    def op(kind: String)(body: => Unit): Option[Double] = {
      attempted += 1
      try Some(timed(trace.span("op", kind)(body)))
      catch { case NonFatal(e) =>
        failed += 1
        errors += s"$kind: ${e.getClass.getName}: ${e.getMessage}".take(400)
        None
      }
    }
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var cycle = 0
    while (cycle == 0 || elapsed < seconds) {
      writes ++= op("write")(w.write())
      for (j <- 0 until w.readsPerCycle) {
        val i = cycle * w.readsPerCycle + j
        val kind = w.readKind(i)
        val t = op(kind)(w.read(i))
        if (kind == "read") reads ++= t else serves ++= t
      }
      cycle += 1
    }
    val w1 = System.nanoTime()
    val (gc1, jit1, steal1) = (gcMs, jitMs, stealTicks)

    val check = w.finish()
    val spans = trace.finish().map { case (s, c) =>
      Map("workload" -> workload, "run" -> root, "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name,
        "start_s" -> (s.startNs - w0) / 1e9, "end_s" -> (s.endNs - w0) / 1e9,
        "attrs" -> s.attrs,
        "spark" -> c.map(x => Map("jobs" -> x.jobs, "tasks" -> x.tasks,
          "executor_cpu_s" -> x.executorCpuNs / 1e9, "shuffle_write_bytes" -> x.shuffleWriteBytes,
          "spill_bytes" -> x.spillBytes, "input_rows" -> x.inputRows)).orNull)
    }
    val hwmKib = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

    val result = Map(
      "workload" -> workload, "traced" -> traced, "cpus" -> cpus,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "session_s" -> sessionS, "prepare_s" -> prepare, "warmup_s" -> warm,
      "window_s" -> (w1 - w0) / 1e9, "cycles" -> cycle,
      "write_s" -> writes.result(), "read_s" -> reads.result(),
      "serve_s" -> serves.result(),
      "attempted" -> attempted, "failed" -> failed, "wrong" -> w.wrong,
      "errors" -> errors.result(),
      "input_bytes" -> w.inputBytes, "bytes_written" -> w.bytesWritten,
      "peak_rss_kib" -> hwmKib, "gc_s" -> (gc1 - gc0) / 1e3, "jit_s" -> (jit1 - jit0) / 1e3,
      "steal_s" -> (steal1 - steal0) / 100.0,
      "counters" -> w.counters, "check" -> check, "spans" -> spans)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$root/jvm_result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }
}
