package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. Spark work is attributed to the innermost open span
  * through the job group the span sets while it is open.
  */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = -1L
  var jobs = 0
  var stages = 0
  val taskMs = ArrayBuffer.empty[Long]
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  /** (submit, end) wall-clock ms of each job. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans (name, start, end, parent; one id per operation) plus
  * Spark job, stage and task counts from a listener keyed by job group.
  * With `sparkAttribution` off no listener is installed and no job group
  * is set: the spans then only time calls.
  */
final class Trace(val sparkAttribution: Boolean) {
  val originNs: Long = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var listening = false

  private val GroupPrefix = "perfbench-"
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g: String = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g != null && g.startsWith(GroupPrefix)) byId.get(g.stripPrefix(GroupPrefix).toInt) else null
      if (s != null) {
        s.synchronized { s.jobs += 1 }
        jobSpan.put(js.jobId, s)
        jobSubmit.put(js.jobId, js.time)
        js.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val s = jobSpan.remove(je.jobId)
      val t0 = jobSubmit.remove(je.jobId)
      if (s != null && t0 != null) s.synchronized { s.jobSpans += ((t0.longValue, je.time)) }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val s = stageSpan.get(sc.stageInfo.stageId)
      if (s != null) s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(te.stageId)
      val m = te.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.taskMs += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Bind to a (new) session's context; attribution starts here. */
  def attach(context: SparkContext): Unit = {
    detach()
    sc = context
    if (sparkAttribution) setListening(true)
  }
  def detach(): Unit = { setListening(false); sc = null }

  /** Toggle the listener, for the traced-vs-untraced passes of a traced run. */
  def setListening(on: Boolean): Unit = if (sc != null && on != listening) {
    if (on) sc.addSparkListener(listener)
    else { drain(); sc.removeSparkListener(listener) }
    listening = on
  }
  def isListening: Boolean = listening

  /** The span that closed most recently: after a call returns, its own. */
  var lastClosed: Span = _

  /** Run `body` as a span and return its wall seconds. */
  def timed(name: String)(body: => Any): Double = { span(name)(body); lastClosed.seconds }

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack ::= s
    if (listening) sc.setJobGroup(GroupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      lastClosed = s
      stack = stack.tail
      if (listening) stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until every event of the calls made so far is attributed. */
  def drain(): Unit = if (listening) org.apache.spark.perfbench.Bus.drain(sc)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)

  /** Spark totals over spans and all their descendants. */
  def totals(roots: Seq[Span]): Totals = {
    val all = roots.flatMap(subtree)
    all.foldLeft(Totals(0, 0, Nil, 0L, 0L, 0L, 0L, Nil)) { (t, s) =>
      s.synchronized {
        Totals(t.jobs + s.jobs, t.stages + s.stages, t.taskMs ++ s.taskMs,
          t.shuffleWrite + s.shuffleWrite, t.shuffleRead + s.shuffleRead, t.spill + s.spill,
          t.inputBytes + s.inputBytes, t.jobSpans ++ s.jobSpans)
      }
    }
  }

  /** Self time: a span's wall time minus its children's. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> (s.startNs - originNs) / 1e6, "end_ms" -> (s.endNs - originNs) / 1e6,
      "self_ms" -> selfSeconds(s) * 1e3, "jobs" -> s.jobs, "stages" -> s.stages,
      "tasks" -> s.taskMs.size, "task_ms" -> s.taskMs.sum, "shuffle_write_bytes" -> s.shuffleWrite,
      "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill, "input_bytes" -> s.inputBytes)
  }
}

/** Spark work attributed to a set of spans. */
final case class Totals(jobs: Int, stages: Int, taskMs: Seq[Long], shuffleWrite: Long,
                        shuffleRead: Long, spill: Long, inputBytes: Long,
                        jobSpans: Seq[(Long, Long)]) {
  def taskSeconds: Double = taskMs.sum / 1e3
  def tasks: Int = taskMs.size
  /** Longest task over the median task: 0 when no task ran. */
  def maxOverMedian: Double =
    if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(1.0, Stats.quantile(taskMs.map(_.toDouble), 0.5))
  /** Wall time covered by at least one job, seconds. */
  def jobUnionSeconds: Double = {
    var covered = 0L; var curLo = Long.MinValue; var curHi = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) { covered += math.max(0L, curHi - curLo); curLo = lo; curHi = hi }
      else curHi = math.max(curHi, hi)
    }
    covered += math.max(0L, curHi - curLo)
    covered / 1e3
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val v = xs.sorted
    val pos = q * (v.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, v.size - 1)
    v(lo) + (pos - lo) * (v(hi) - v(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
