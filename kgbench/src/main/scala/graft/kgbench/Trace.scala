package graft.kgbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group: job/stage/task counts and the
  * task metrics summed over every task that ran under it.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputRecords += o.inputRecords; outputBytes += o.outputBytes
  }
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

/** Listener registered by the benchmark (the library registers none): it
  * keys every job, submitted stage and finished task by the job group that
  * was set on the calling thread when the job started.
  */
final class GroupCounters extends SparkListener {
  private val byGroup = mutable.Map[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    of(groupOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    of(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters of one group, read after the listener bus has drained. */
  def apply(group: String): Counters = synchronized(byGroup.getOrElse(group, new Counters))
}

/** One timed call into a layer. `extra` marks calls the untraced operation
  * does not make (sub-stage profiles); they are excluded from per-operation
  * job counts. `attrs` are counts recorded at the boundary (rows out etc.).
  */
final class Span(val id: Int, val name: String, val traceId: String, val parent: Int,
    val startNs: Long, val extra: Boolean) {
  var endNs: Long = startNs
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def group: String = s"kgbench-span-$id"
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body. Enabled,
  * every span sets its own Spark job group for the duration of the call
  * (restoring the parent's afterwards), so `GroupCounters` attributes each
  * job to exactly one span.
  */
final class Tracer(on: Boolean, sc: SparkContext) {
  private var suppressed = false
  def enabled: Boolean = on && !suppressed

  /** Run `f` with tracing off (untraced comparison passes of traced runs). */
  def untraced[A](f: => A): A = {
    val prev = suppressed
    suppressed = true
    try f finally suppressed = prev
  }

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextTrace = 0
  private var currentTrace = ""

  /** Start a new trace (one build, append or query op) with a root span. */
  def trace[A](name: String)(f: => A): A = {
    if (enabled) { nextTrace += 1; currentTrace = s"t$nextTrace" }
    span(name)(f)
  }

  def span[A](name: String, extra: Boolean = false)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, currentTrace, parent.map(_.id).getOrElse(-1),
        System.nanoTime(), extra || parent.exists(_.extra))
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record a count on the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = s.seconds - covered(children(s))

  /** Seconds covered by the union of the given (possibly overlapping) spans. */
  def covered(ss: Seq[Span]): Double = {
    var total = 0L
    var end = Long.MinValue
    ss.sortBy(_.startNs).foreach { c =>
      val start = math.max(c.startNs, end)
      if (c.endNs > start) { total += c.endNs - start; end = c.endNs }
    }
    total / 1e9
  }

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq
  def inTrace(traceId: String): Seq[Span] = spans.filter(_.traceId == traceId).toSeq
}
