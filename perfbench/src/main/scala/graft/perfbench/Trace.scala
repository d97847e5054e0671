package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call: `parent` is the span that caused it (0 for none) and
  * `op` the benchmark operation it belongs to. Times are epoch ms. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Span recorder around each public call the benchmark makes.
  *
  * Every call runs through [[span]] in both modes, so traced and
  * untraced runs execute the same code; only a traced recorder keeps
  * spans and tags Spark jobs. The tag is the Spark local property
  * [[Tracer.SpanProp]] holding the innermost span id: a
  * [[JobAttribution]] listener reads it off each job and charges the
  * job's interval, task time, shuffle writes and spills to that span.
  * Spans stay in memory and are written out as JSON once at the end. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  @volatile var op: Long = 0

  /** Epoch milliseconds at sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def reserve(): Long = ids.getAndIncrement()

  /** The innermost open span on this thread (0 for none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  def record(s: Span): Unit = if (enabled) recorded.add(s)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val id = reserve()
      val outer = stack.get
      val prop = sc.getLocalProperty(Tracer.SpanProp)
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = nowMs()
      try body finally {
        recorded.add(Span(id, name, outer.headOption.getOrElse(0L), op, t0, nowMs()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, prop)
      }
    }

  /** Run `body` on this thread as a child of span `parent` — the
    * streaming body runs on the query's own thread, under the batch
    * span the main thread reserved for it. */
  def under[T](parent: Long)(body: => T): T =
    if (!enabled) body else {
      val outer = stack.get
      val prop = sc.getLocalProperty(Tracer.SpanProp)
      stack.set(parent :: outer)
      sc.setLocalProperty(Tracer.SpanProp, parent.toString)
      try body finally {
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, prop)
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.startMs)
}

object Tracer {
  val SpanProp = "graft.perfbench.span"
}

final case class JobRecord(span: Long, startMs: Long, var endMs: Long)

/** SparkListener charging jobs and task metrics to the span that was
  * current on the submitting thread. */
final class JobAttribution extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val shuffleBytes = new ConcurrentHashMap[Long, AtomicLong]()
  val spillBytes = new AtomicLong()
  val runMs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobRecord(span, e.time, -1L))
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val span = stageSpan.getOrDefault(e.stageId, 0L)
      shuffleBytes.computeIfAbsent(span, _ => new AtomicLong())
        .addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
    }
}

/** StreamingQueryListener keeping every micro-batch's progress: the
  * delivery latency is the batch's `triggerExecution`. */
final class DeliveryProgress extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Listeners {
  private val jobListeners = new ConcurrentHashMap[SparkContext, JobAttribution]()

  /** The context's one [[JobAttribution]], registered on first use — a
    * second registration would count every job twice. */
  def jobs(sc: SparkContext): JobAttribution =
    jobListeners.computeIfAbsent(sc, { c =>
      val l = new JobAttribution
      c.addSparkListener(l)
      l
    })

  /** The session's one [[DeliveryProgress]], added only if absent. */
  def deliveries(spark: SparkSession): DeliveryProgress = synchronized {
    spark.streams.listListeners().collectFirst { case d: DeliveryProgress => d }
      .getOrElse {
        val d = new DeliveryProgress
        spark.streams.addListener(d)
        d
      }
  }
}
