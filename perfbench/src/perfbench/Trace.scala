package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. `parent` is 0 for a top-level span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

/** Spark work attributed to one span: every job whose submitting thread
  * carried the span's id in the [[Trace.SpanProperty]] local property,
  * and every task of those jobs' stages. */
final class SparkCounts {
  var jobs = 0L; var tasks = 0L; var executorCpuNs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var inputRows = 0L
}

/** Listener keyed by the span local property. Spark copies local
  * properties into threads a span-carrying thread starts (the engine's
  * `Par` threads), so their jobs land on the span that started them. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Long, SparkCounts]()

  private def counts(span: Long) = bySpan.computeIfAbsent(span, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan.put(_, span))
    counts(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = counts(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks += 1
    if (m != null) {
      c.executorCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
    }
  }
}

/** Span recorder. Disabled, [[span]] only runs its body, so the untraced
  * run pays nothing; enabled, spans are kept in memory and read once at
  * the end of the run. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val annotations = new ConcurrentLinkedQueue[(Long, String, Double)]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Time `body` as a call into `layer`. `parent` defaults to the
    * innermost span open on this thread; a Dag task body runs on a pool
    * thread and names its Dag span explicitly. */
  def span[T](layer: String, name: String, parent: Long = -1L,
      attrs: Map[String, Double] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val par = if (parent >= 0) parent else current
      val prevProp = sc.getLocalProperty(Trace.SpanProperty)
      val prevStack = stack.get
      stack.set(id :: prevStack)
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Trace.SpanProperty, prevProp)
        stack.set(prevStack)
        spans.add(Span(id, par, layer, name, t0, t1, attrs))
      }
    }

  /** Add a measured value to attribute `key` of span `id`. */
  def annotate(id: Long, key: String, value: Double): Unit =
    if (enabled) annotations.add((id, key, value))

  /** All spans with their annotations and Spark counts, after draining
    * the listener bus so every task-end of every span has been seen. */
  def finish(): Seq[(Span, Option[SparkCounts])] = {
    if (!enabled) return Nil
    org.apache.spark.PerfbenchBus.drain(sc)
    import scala.jdk.CollectionConverters._
    val extra = annotations.asScala.toSeq.groupBy(_._1)
    val counts = listener.get.bySpan
    spans.asScala.toSeq.sortBy(_.id).map { s =>
      val a = extra.getOrElse(s.id, Nil).groupMapReduce(_._2)(_._3)(_ + _)
      (s.copy(attrs = s.attrs ++ a), Option(counts.get(s.id)))
    } :+ (Span(0L, -1L, "unattributed", "jobs outside any span", 0L, 0L, Map.empty),
      Option(counts.get(0L)))
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
}
