package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters attributed to one span (its jobs, stages and tasks). */
final case class SparkCounts(
    jobs: Int, stages: Int, tasks: Long, executorRunS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    taskSkew: Double, outsideJobsS: Double)

/** One recorded span: a call into a layer, made from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Counts Spark work per span. The span active on the submitting thread is
 * carried to the scheduler as a job-group-independent local property, so
 * every job (and through it every stage and task) lands on the span that
 * caused it; jobs submitted outside any span are ignored.
 */
final class SpanListener extends SparkListener {
  val SpanKey = "graft.perfbench.span"

  private final class Acc {
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val accs = mutable.HashMap.empty[Int, Acc]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def acc(span: Int): Acc = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
      val span = s.toInt
      jobSpan(e.jobId) = span
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { span =>
      acc(span).jobIntervals += ((jobStartMs(e.jobId), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val a = acc(span)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counts for the given spans together (a span and its descendants). */
  def counts(spans: Seq[Span]): SparkCounts = synchronized {
    val as = spans.flatMap(s => accs.get(s.id))
    val intervals = as.flatMap(_.jobIntervals)
    val taskMs = as.flatMap(_.taskMs).sorted
    val medianTask = if (taskMs.isEmpty) 0L else taskMs(taskMs.length / 2)
    val top = spans.minBy(_.startNs)
    val wallMs = (spans.map(_.endNs).max - top.startNs) / 1e6
    SparkCounts(
      jobs = intervals.size,
      stages = as.map(_.stages).sum,
      tasks = as.map(_.tasks).sum,
      executorRunS = as.map(_.runMs).sum / 1e3,
      shuffleReadBytes = as.map(_.shuffleRead).sum,
      shuffleWriteBytes = as.map(_.shuffleWrite).sum,
      spillBytes = as.map(_.spill).sum,
      taskSkew = if (medianTask <= 0) 1.0 else taskMs.last.toDouble / medianTask,
      outsideJobsS = math.max(0.0, wallMs - Trace.unionLength(intervals)) / 1e3)
  }
}

/**
 * In-memory span recorder. Spans are opened and closed around the
 * benchmark's calls into each layer; they hold name, start, end, parent
 * and run id, and are written out once, when the run ends. With tracing
 * off, `span` only runs its body. Spark work is counted only between
 * `attach` and `detach`, so untraced operations of a traced run pay no
 * listener cost.
 */
final class Trace(val enabled: Boolean, val runId: String, sc: SparkContext) {
  val listener = new SpanListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private var attached = false

  /** Start counting Spark work (a no-op with tracing off). */
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  /** Stop counting, after every pending event has been delivered. */
  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(listener.SpanKey)
    if (enabled) sc.setLocalProperty(listener.SpanKey, id.toString)
    stack = id :: stack
    val t0 = System.nanoTime()
    val r = try body finally {
      stack = stack.tail
      if (enabled) sc.setLocalProperty(listener.SpanKey, prevProp)
    }
    val s = Span(id, name, parent, runId, t0, System.nanoTime())
    if (enabled) spans += s
    (r, s)
  }

  /** The span and all spans opened beneath it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }

  /** Span duration minus the part of it covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Trace.unionLength(kids.toSeq)) / 1e9
  }

  /** Listener counts for a span including its descendants. Waits until the
    * listener bus has delivered every event posted so far. */
  def counts(s: Span): SparkCounts = {
    org.apache.spark.perfbench.Bus.drain(sc)
    listener.counts(subtree(s))
  }

  /** Write every span, with self time and Spark counts, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    if (!enabled) return
    org.apache.spark.perfbench.Bus.drain(sc)
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      val c = listener.counts(subtree(s))
      Json.obj(
        "run_id" -> s.runId, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
        "self_seconds" -> selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "executor_run_s" -> c.executorRunS,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "task_skew" -> c.taskSkew, "outside_jobs_s" -> c.outsideJobsS)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Double = {
    var total = 0.0
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
