package idrbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call from the benchmark into a layer. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters summed over the jobs attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  /** Worst max/median task time over the stages with at least 4 tasks. */
  var skew = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; skew = math.max(skew, o.skew)
  }
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * out when the run ends. Jobs are attributed to the span open when they
  * start: entering a span sets the local property [[Trace.SpanKey]] on the
  * calling thread, and [[SpanListener]] reads it from each job's
  * properties. With tracing off, [[span]] only runs its body. The
  * harness's own work in a traced unit (landing inputs, output checks,
  * diagnostics) runs in [[harness]] spans, which the layer figures leave out.
  */
final class Trace(sc: SparkContext, val runId: String) {
  private var on = false
  private var nextId = 1L
  private val stack = mutable.Stack[Long](0L)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  val listener = new SpanListener

  def enabled: Boolean = on

  /** Turns recording on or off; the listener is attached only while on. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    on = flag
    if (on) sc.addSparkListener(listener) else {
      Trace.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.top
      stack.push(id)
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Trace.SpanKey, if (stack.top == 0L) null else stack.top.toString)
        spans += Span(id, parent, name, layer, t0, t1, runId)
      }
    }

  /** A span of the harness's own work, not the program's. */
  def harness[T](body: => T): T = span("harness", Trace.HarnessLayer)(body)

  /** Ids of the spans `pick` selects and of every span nested in them. */
  def subtree(pick: Span => Boolean): Set[Long] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.Set[Long]()
    var frontier = spans.filter(pick).map(_.id).toSeq
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(id => children.getOrElse(id, Nil).map(_.id))
    }
    out.toSet
  }

  /** Seconds spent in harness spans that no other span encloses. */
  def harnessSeconds: Double =
    spans.filter(s => s.layer == Trace.HarnessLayer && s.parent == 0L).map(_.seconds).sum

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  /** Counters of the jobs attributed to the spans `ids` (0: outside any span). */
  def counters(ids: Set[Long]): Counters = {
    Trace.drain(sc)
    val out = new Counters
    listener.synchronized(listener.bySpan.foreach { case (id, c) => if (ids(id)) out.add(c) })
    out
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":"${s.runId}"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "idrbench.span"
  val HarnessLayer = "harness"

  /** Waits until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchListenerBus.waitUntilEmpty(sc)
}

/** Sums task metrics per span; a job's span comes from its properties. */
final class SpanListener extends SparkListener {
  val bySpan: mutable.Map[Long, Counters] = mutable.Map[Long, Counters]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private def forSpan(id: Long): Counters = bySpan.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    forSpan(id).jobs += 1
    e.stageIds.foreach(stageSpan(_) = id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = forSpan(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).filter(_.size >= 4).foreach { ts =>
      val sorted = ts.sorted
      val median = math.max(1L, sorted(sorted.size / 2))
      val c = forSpan(stageSpan.getOrElse(id, 0L))
      c.skew = math.max(c.skew, sorted.last.toDouble / median)
    }
  }
}
