package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` groups the spans of one request. */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
    val start: Long) {
  @volatile var end: Long = -1L
  def ms: Double = (end - start) / 1e6
}

/** Spark work charged to one span: everything its jobs' tasks did. */
final class Charge {
  var jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  def add(o: Charge): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
  }
}

/**
 * The traced run's span recorder. A span is opened around each call into a
 * layer's public function; while it is open, the calling thread's Spark
 * local property [[Trace.SpanKey]] names it, so every job that thread (or a
 * thread it starts, e.g. a broadcast exchange) submits carries the span id, and
 * [[SpanListener]] charges that job's stages and tasks to it. Concurrent
 * callers stay separate because local properties are per thread.
 *
 * Off (the untraced run), `span` only runs its body: no ids, no property,
 * no listener. Spans stay in memory until the run writes its report.
 */
object Trace {
  val SpanKey = "graftbench.span"

  @volatile private var sc: SparkContext = _
  @volatile private var listener: SpanListener = _
  private val ids = new AtomicLong(1L)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)

  def start(context: SparkContext): Unit = {
    sc = context
    listener = new SpanListener
    context.addSparkListener(listener)
  }

  /** Run `body` inside a span named `name`, child of the span open on this
    * thread. `req` ≥ 0 starts a request; children inherit their parent's. */
  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (listener == null) body
    else {
      val outer = stack.get
      val parent = outer.headOption
      val s = new Span(ids.getAndIncrement(), name, parent.map(_.id).getOrElse(0L),
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L), System.nanoTime())
      all.add(s)
      stack.set(s :: outer)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** The innermost span open on this thread, to parent spans opened on
    * worker threads under it. */
  def current: Option[Span] = Option(stack.get).flatMap(_.headOption)

  /** Open spans on this (worker) thread under `parent`. */
  def adopt(parent: Option[Span]): Unit =
    if (listener != null) parent.foreach(p => stack.set(List(p)))

  /** Wait for the listener to see every event posted so far. */
  def drain(): Unit = if (listener != null) BenchBridge.drainListeners(sc)

  def spans: Seq[Span] = all.asScala.toSeq.filter(_.end >= 0)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def unattributedJobs: Long = if (listener == null) 0L else listener.unattributedJobs.get()

  /** Spark work charged to `root` and every span below it. */
  def inclusive(roots: Seq[Span]): Charge = {
    val kids = spans.groupBy(_.parent)
    val total = new Charge
    def walk(s: Span): Unit = {
      listener.charged(s.id).foreach(total.add)
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    roots.foreach(walk)
    total
  }

  /** Per span name: calls, total and self wall time, and the Spark work
    * charged to that name's spans alone (not their children). Self time is
    * a span's duration minus the part of it its children cover. */
  def report(): Seq[(String, Int, Double, Double, Charge)] = {
    val ss = spans
    val kids = ss.groupBy(_.parent)
    def covered(s: Span): Double = {
      // children on other threads may overlap; merge their intervals
      val iv = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(i => i._2 > i._1)
        .sortBy(_._1)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { total += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      total += math.max(0L, curE - curS)
      total / 1e6
    }
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, group) =>
      val c = new Charge
      group.foreach(s => listener.charged(s.id).foreach(c.add))
      (name, group.length, group.map(_.ms).sum,
        group.map(s => s.ms - covered(s)).sum, c)
    }
  }
}

/** Charges jobs, stages, tasks, task CPU, GC, shuffle bytes and spill to the
  * span named by the submitting thread's [[Trace.SpanKey]] property. Jobs
  * without one are counted as unattributed, so gaps in the spans show. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val charges = new ConcurrentHashMap[Long, Charge]()
  val unattributedJobs = new AtomicLong(0L)

  def charged(span: Long): Option[Charge] = Option(charges.get(span))

  private def charge(span: Long): Charge = charges.computeIfAbsent(span, _ => new Charge)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))) match {
      case Some(id) =>
        val span = id.toLong
        charge(span).jobs += 1
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      case None => unattributedJobs.incrementAndGet(); ()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => charge(s.longValue).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = charge(s.longValue)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
}
