package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the id of the span that was
  * open when this one began (-1 for a root); `pass` is the pass the call
  * belongs to (-1 in warm-up, [[Layers.ProbePass]] for layer probes).
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spark work attributed to one span. `engineJobs` are the jobs that ran
  * under the engine's own job groups (`graft-copy-*`, `graft-compare-*`);
  * `sourceTasks` ran in stages with no parent stage.
  */
final class Counters {
  var jobs, engineJobs, tasks, sourceTasks, shuffleWriteBytes, spillBytes,
      outputBytes, gcMs = 0L
}

object Trace {

  /** A span's self time: its duration minus the part of its interval
    * that its children cover. Children may overlap each other (engine
    * calls that fan out) or stick out of the parent; only the covered
    * part inside the parent is subtracted, once.
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => s < e }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.ns - covered
  }
}

/** Span recorder for the single closed-loop caller. Disabled, `span`
  * only runs its body: the untraced run pays nothing for it. Enabled, a
  * span also tags the Spark jobs it starts with the job group
  * `perfbench-<id>`; jobs the engine tags itself (`graft-copy-*`,
  * `graft-compare-*`) or leaves untagged go to the innermost open span.
  */
final class Tracer(sc: SparkContext) {
  @volatile private var on = false
  @volatile private var current = -1
  private var nextId = 0
  private var pass = -1
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private val done = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val listener = new SpanListener(this)

  def enabled: Boolean = on

  /** Start recording: spans from here on are kept and the listener
    * counts the Spark work of each.
    */
  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    on = true
  }

  /** Stop recording and wait until every Spark event has been counted. */
  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.perfbench.BusBridge.drain(sc)
    sc.removeSparkListener(listener)
  }

  def setPass(p: Int): Unit = pass = p

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      counters.put(id, new Counters)
      stack.push(id)
      current = id
      sc.setJobGroup(s"perfbench-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done += Span(id, name, parent, pass, t0, t1)
        stack.pop()
        current = parent
        if (parent >= 0) sc.setJobGroup(s"perfbench-$parent", "")
        else sc.clearJobGroup()
      }
    }

  private[perfbench] def spanForGroup(group: String): Int =
    if (group != null && group.startsWith("perfbench-"))
      group.stripPrefix("perfbench-").toInt
    else current

  private[perfbench] def countersOf(span: Int): Counters = counters.get(span)

  def spans: Seq[Span] = done.toSeq

  def countersFor(s: Span): Counters =
    Option(counters.get(s.id)).getOrElse(new Counters)

  def selfNs(s: Span): Long = Trace.selfNs(s, done.filter(_.parent == s.id).toSeq)

  /** Spans as JSON lines, for reading a run after the fact. */
  def writeJsonl(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try done.foreach { s =>
      val c = countersFor(s)
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${selfNs(s)},"jobs":${c.jobs},"engine_jobs":${c.engineJobs},""" +
        s""""tasks":${c.tasks},"source_tasks":${c.sourceTasks},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
        s""""output_bytes":${c.outputBytes},"task_gc_ms":${c.gcMs}}""")
    } finally w.close()
  }
}

/** Counts jobs, tasks, shuffle, spill, output bytes and task GC per span. */
private final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val sourceStages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val span = tracer.spanForGroup(group)
    val c = tracer.countersOf(span)
    if (c != null) c.synchronized {
      c.jobs += 1
      if (group != null && group.startsWith("graft-")) c.engineJobs += 1
      e.stageInfos.foreach { s =>
        stageSpan.put(s.stageId, span)
        if (s.parentIds.isEmpty) sourceStages.add(s.stageId)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val c = if (span == null) null else tracer.countersOf(span.intValue)
    if (c != null) c.synchronized {
      c.tasks += 1
      if (sourceStages.contains(e.stageId)) c.sourceTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.gcMs += m.jvmGCTime
      }
    }
  }
}
