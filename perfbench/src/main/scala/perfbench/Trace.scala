package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One call into a layer. `trace` ties the spans of one operation
  * (a query name or a micro-batch id); `parent` is 0 for a root. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    trace: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Tracer {
  /** Spark local property carrying the innermost open span id. Jobs
    * started while it is set are attributed to that span. */
  val SpanKey = "perfbench.span"

  /** Self time of each span: its duration minus the time its children
    * (spans opened inside it) cover. Children of one span run on the
    * thread that opened it, so they never overlap each other. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> math.max(0.0, s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

/** Records spans around the benchmark's calls into graft's layers. When
  * disabled, `span` only runs its body. Spans stay in memory until the
  * run ends. */
final class Tracer(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[(Int, String)]](() => Nil)
  private val overheadNs = new AtomicLong(0L)
  @volatile var sc: Option[SparkContext] = None

  /** Run `body` inside a span. A null `trace` inherits the trace of the
    * enclosing span on this thread. */
  def span[T](layer: String, name: String, trace: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val e0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val open = stack.get
      val tr = Option(trace).orElse(open.headOption.map(_._2)).getOrElse(name)
      val prev = sc.map(_.getLocalProperty(Tracer.SpanKey))
      stack.set((id, tr) :: open)
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      val t0 = System.nanoTime()
      overheadNs.addAndGet(t0 - e0)
      try body
      finally {
        val t1 = System.nanoTime()
        buf.add(Span(id, open.headOption.map(_._1).getOrElse(0), layer, name, tr, t0, t1))
        stack.set(open)
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, prev.flatMap(Option(_)).orNull))
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def spans: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)
  def overheadSeconds: Double = overheadNs.get / 1e9
}

/** Spark work attributed to one span. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskNs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  var peakMem = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskNs += o.taskNs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; peakMem = math.max(peakMem, o.peakMem)
    this
  }
}

/** A SparkListener that ties every job, stage and task to the span that
  * was open on the thread that started the job (span 0: none). */
final class JobLedger extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()

  private def of(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = spanOf(e.properties)
    of(sp).synchronized { of(sp).jobs += 1 }
    e.stageIds.foreach(s => stageSpan.put(s, sp))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = of(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = of(stageSpan.getOrDefault(e.stageId, 0))
    w.synchronized {
      w.tasks += 1
      if (e.reason != Success) w.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskNs += m.executorRunTime * 1000000L
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
        w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Work per span id. Call after draining the listener bus. */
  def bySpan: Map[Int, Work] = work.asScala.toMap
}
