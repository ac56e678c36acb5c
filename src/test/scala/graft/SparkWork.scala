package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.hadoop.fs.Path
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work a block of driver code launches, for specs that pin a
  * scheduling count or a record count. The listener bus is drained
  * before the listener is attached (earlier work's events stay out) and
  * again before the count is read (all of the block's events are in) —
  * no sleep-polling. */
object SparkWork {
  /** Jobs and SQL executions launched, plus the records the block's
    * tasks wrote to shuffle and read from input (file scans and cached
    * blocks). Equality compares the two scheduling counts, which specs
    * pin exactly; the record counts move with the data and are read by
    * field. */
  final class Counts(val jobs: Int, val sqlExecutions: Int,
      val shuffleRecords: Long = 0L, val inputRecords: Long = 0L) {
    override def equals(o: Any): Boolean = o match {
      case c: Counts => c.jobs == jobs && c.sqlExecutions == sqlExecutions
      case _ => false
    }
    override def hashCode: Int = (jobs, sqlExecutions).##
    override def toString: String = s"Counts(jobs=$jobs, sqlExecutions=$sqlExecutions, " +
      s"shuffleRecords=$shuffleRecords, inputRecords=$inputRecords)"
  }
  object Counts {
    def apply(jobs: Int, sqlExecutions: Int): Counts = new Counts(jobs, sqlExecutions)
  }

  def count[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val execs = new AtomicInteger(0)
    val shuffled = new AtomicLong(0L)
    val read = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        read.addAndGet(m.inputMetrics.recordsRead)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet(); ()
        case _ => ()
      }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, new Counts(jobs.get(), execs.get(), shuffled.get(), read.get()))
    } finally sc.removeSparkListener(listener)
  }
}

/** The shared test filesystem: a local FS reached by the `crashat://`
  * scheme (register it as `fs.crashat.impl`). Unarmed it is the local FS
  * plus a log of every mutation it sees; armed with `crashOp`, it throws
  * (without doing the call) at the first such mutation whose path — the
  * source, for a rename — satisfies `crashPath`: drives a write path to
  * each of its crash points. */
class CrashAtFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashat:///")
  override def mkdirs(p: Path): Boolean = {
    CrashAtFs.step("mkdirs", p); super.mkdirs(p)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
    CrashAtFs.step("create", p); super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashAtFs.step("rename", src); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashAtFs.step("delete", p); super.delete(p, recursive)
  }
}

object CrashAtFs {
  @volatile var crashOp: Option[String] = None
  @volatile var crashPath: Path => Boolean = _ => true
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def step(op: String, p: Path): Unit = {
    if (crashOp.contains(op) && crashPath(p)) {
      crashOp = None
      crashPath = _ => true
      throw new java.io.IOException(s"injected crash at $op")
    }
    seen.add(op); ()
  }
}
