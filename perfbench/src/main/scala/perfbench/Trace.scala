package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval around a call into a layer, within op `op` (-1 for
  * a set-up step). `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
                      parent: Int, op: Int)

/** Task-level sums for a set of stages. */
final class TaskStats {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var inputRecords = 0L

  def add(o: TaskStats): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }
}

/**
 * Spans kept in memory and Spark listener counts, both at the boundaries of
 * the benchmark's own calls into the engine. Disabled, `span` only runs its
 * body: the untraced run records nothing and attaches no listener.
 *
 * With one client every job started while an op runs belongs to that op.
 * A job is charged to the innermost open span at its submission time; the
 * driver thread also tags its jobs with the span id, which settles jobs
 * submitted in the same millisecond a span ends.
 */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private var sc: SparkContext = _

  private val jobs = mutable.ArrayBuffer.empty[Tracer.Job]
  private val stageTasks = mutable.Map.empty[Int, TaskStats]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.TagKey))).map(_.toInt).getOrElse(-1)
      jobs += Tracer.Job(e.jobId, e.time, tag, e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val s = stageTasks.getOrElseUpdate(e.stageId, new TaskStats)
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.spill += m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    sc.addSparkListener(listener)
  }

  /** Stop counting: the listener leaves the bus, so work after this runs
    * as it would untraced. */
  def detach(): Unit = if (sc != null) {
    drain()
    sc.removeSparkListener(listener)
    sc = null
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, System.nanoTime(), -1L,
        open.headOption.map(_.id).getOrElse(-1), op)
      spans += s
      val prevTag = if (sc != null) sc.getLocalProperty(Tracer.TagKey) else null
      if (sc != null) sc.setLocalProperty(Tracer.TagKey, s.id.toString)
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        if (sc != null) sc.setLocalProperty(Tracer.TagKey, prevTag)
      }
    }

  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Deliver every pending listener event. */
  def drain(): Unit = if (enabled && sc != null)
    org.apache.spark.perfbench.Bus.drain(sc)

  /** Jobs of the spans in `ids`, each job charged to exactly one span. */
  def jobsBySpan(ids: Seq[Int]): Map[Int, Seq[Int]] = synchronized {
    val cand = ids.map(spans)
    def covers(s: Span, t: Long, slackMs: Double) =
      epochMs(s.startNs) - slackMs <= t && t <= epochMs(s.endNs) + slackMs
    jobs.toSeq.flatMap { j =>
      val byTag = cand.find(s => s.id == j.tag && covers(s, j.timeMs, 1.0))
      // innermost = the latest-starting span that covers the job
      val byTime = cand.filter(covers(_, j.timeMs, 0.0))
        .sortBy(-_.startNs).headOption
      byTag.orElse(byTime).map(s => s.id -> j.id)
    }.groupMap(_._1)(_._2)
  }

  def stagesOf(jobIds: Seq[Int]): Seq[Int] = synchronized {
    val want = jobIds.toSet
    jobs.filter(j => want(j.id)).flatMap(_.stages).distinct.toSeq
  }

  /** Task sums over the stages that ran tasks (skipped stages have none). */
  def taskStats(stageIds: Seq[Int]): TaskStats = synchronized {
    val t = new TaskStats
    stageIds.flatMap(stageTasks.get).foreach(t.add)
    t
  }

  def stagesRun(stageIds: Seq[Int]): Int = synchronized {
    stageIds.count(stageTasks.contains)
  }

  /** Self time of each span: its duration minus the part its children
    * cover (children of one span never overlap: one client, one thread). */
  def selfMs(opSpans: Seq[Span]): Map[Int, Double] = {
    val childNs = opSpans.filter(_.parent >= 0).groupMapReduce(_.parent)(
      s => s.endNs - s.startNs)(_ + _)
    opSpans.map(s =>
      s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).toMap
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ms":${fmt((s.startNs - baseNs) / 1e6)},""" +
      s""""end_ms":${fmt((s.endNs - baseNs) / 1e6)},"parent":${s.parent},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  private def fmt(d: Double) = f"$d%.3f"
}

object Tracer {
  val TagKey = "perfbench.span"

  final case class Job(id: Int, timeMs: Long, tag: Int, stages: Seq[Int])
}
