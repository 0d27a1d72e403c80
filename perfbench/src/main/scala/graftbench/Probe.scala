package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine work of one span, summed over the jobs its calls submitted. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskWaitMs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, recordsRead: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunMs + o.taskRunMs, taskWaitMs + o.taskWaitMs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, recordsRead + o.recordsRead,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/** A listener that attributes every job, stage and task to the span whose
  * job group was set when the job was submitted.
  *
  * The listener bus is asynchronous, so a count read right after an action
  * can miss events still in flight. [[settle]] runs a marked sentinel job
  * and waits until the listener has seen it start: the bus is FIFO, so by
  * then every event posted before the sentinel has been delivered. */
final class Probe(sc: SparkContext) extends SparkListener {
  import Probe._

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val counters = mutable.HashMap.empty[String, Counters]
  @volatile private var sentinelSeen = 0L
  private var sentinelNext = 0L

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull

  private def bump(group: String)(f: Counters => Counters): Unit =
    counters.update(group, f(counters.getOrElse(group, Counters())))

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(js.properties)
    if (g != null && g.startsWith(SentinelPrefix))
      sentinelSeen = math.max(sentinelSeen, g.stripPrefix(SentinelPrefix).toLong)
    else if (g != null && g.startsWith(SpanPrefix)) {
      js.stageIds.foreach(stageGroup.update(_, g))
      bump(g)(c => c.copy(jobs = c.jobs + 1))
    }
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.get(ss.stageInfo.stageId).foreach(bump(_)(c => c.copy(stages = c.stages + 1)))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(te.stageId).foreach { g =>
      val m = te.taskMetrics
      val info = te.taskInfo
      val add = if (m == null) Counters(tasks = 1) else {
        // scheduler delay + deserialization: everything in the task's
        // wall time that is neither running nor shipping the result
        val wait = info.duration - m.executorRunTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        Counters(tasks = 1, taskRunMs = m.executorRunTime, taskWaitMs = math.max(0L, wait),
          gcMs = m.jvmGCTime, inputBytes = m.inputMetrics.bytesRead,
          recordsRead = m.inputMetrics.recordsRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.diskBytesSpilled)
      }
      bump(g)(_ + add)
    }
  }

  /** Block until every event posted before this call has been delivered,
    * then restore `group` (the caller's open span, or none). */
  def settle(group: Option[(String, String)]): Unit = {
    val id = synchronized { sentinelNext += 1; sentinelNext }
    sc.setJobGroup(SentinelPrefix + id, "graftbench sentinel")
    try sc.parallelize(Seq(1), 1).count()
    finally group match {
      case Some((g, d)) => sc.setJobGroup(g, d)
      case None         => sc.clearJobGroup()
    }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sentinelSeen < id && System.nanoTime() < deadline) Thread.sleep(2)
    if (sentinelSeen < id) throw new IllegalStateException("listener bus did not settle within 30 s")
  }

  /** Remove and return what was counted for `group`. */
  def take(group: String): Counters = synchronized {
    counters.remove(group).getOrElse(Counters())
  }
}

object Probe {
  val SpanPrefix = "graftbench.span."
  val SentinelPrefix = "graftbench.sentinel."
}

/** One timed layer call. Times exclude the settle pauses of nested spans. */
final class Span(val id: Long, val name: String, val parent: Long, val op: Int, val startNs: Long) {
  var endNs: Long = startNs
  var pausedNs: Long = 0L
  var counters: Counters = Counters()
  def seconds: Double = (endNs - startNs - pausedNs) / 1e9
}

/** Opens spans around layer calls when tracing is on; a no-op otherwise. */
final class Tracer(sc: SparkContext, probe: Probe) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0L
  var on = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val s = new Span(nextId, name, stack.headOption.fold(0L)(_.id), op, System.nanoTime())
      stack = s :: stack
      sc.setJobGroup(Probe.SpanPrefix + s.id, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        val p0 = System.nanoTime()
        probe.settle(stack.headOption.map(p => (Probe.SpanPrefix + p.id, p.name)))
        val paused = System.nanoTime() - p0
        stack.foreach(_.pausedNs += paused)
        s.counters = probe.take(Probe.SpanPrefix + s.id)
        spans += s
      }
    }

  def spansOf(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq
}
