package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work a block of driver code launches, for specs that pin a
  * scheduling count. The listener bus is drained before the listener is
  * attached (earlier work's events stay out) and again before the count
  * is read (all of the block's events are in) — no sleep-polling. */
object SparkWork {
  final case class Counts(jobs: Int, sqlExecutions: Int)

  def count[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val execs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
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
      (r, Counts(jobs.get(), execs.get()))
    } finally sc.removeSparkListener(listener)
  }
}
