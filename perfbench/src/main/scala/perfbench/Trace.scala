package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** A timed interval. Spans of one op share `root` (the op span's id). */
final case class Span(id: Long, parent: Long, root: Long, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, String] = Map.empty) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time: the span's duration minus the part of it its children cover. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (c.startNs.max(span.startNs), c.endNs.min(span.endNs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }
}

/** Wall clock in epoch nanoseconds with nanoTime resolution, so our own
  * spans line up with Spark's millisecond event times. */
object Clock {
  private val base: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano - System.nanoTime()
  }
  def epochNs(nano: Long): Long = base + nano
  def nowEpochNs(): Long = epochNs(System.nanoTime())
}

/** Spark work attributed to one op phase (or one stream batch). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, deserMs, fetchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; deserMs += o.deserMs
    fetchWaitMs += o.fetchWaitMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
  }
}

/** Listener behind the traced run. Query-op jobs are tagged through the job
  * group the benchmark sets on its own thread (`perfbench:<op>:<phase>`);
  * stream jobs carry Spark's own `streaming.sql.batchId` property. Events
  * stay in memory; spans are written once, at exit. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val counters = mutable.HashMap.empty[String, Counters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobKey = mutable.HashMap.empty[Int, (String, Long)]
  private val jobSpans = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Long, Long)]]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val plans = mutable.HashMap.empty[String, mutable.ArrayBuffer[Map[String, (Long, Long)]]]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  def add(s: Span): Unit = synchronized { spanBuf += s }
  def spans: Seq[Span] = synchronized { spanBuf.toSeq }

  def drain(): Unit = org.apache.spark.sql.perfbench.Bridge.drainListenerBus(sc)

  /** Tag Spark work started on this thread as `phase` of op `op`. */
  def enter(op: Long, phase: String): Unit =
    sc.setJobGroup(Tracer.key(op, phase), phase, interruptOnCancel = false)
  def leave(): Unit = sc.clearJobGroup()

  def countersOf(key: String): Counters = synchronized(counters.getOrElse(key, new Counters))
  def jobsOf(key: String): Seq[(Int, Long, Long)] =
    synchronized(jobSpans.get(key).map(_.toSeq).getOrElse(Nil))
  /** Tracker phases (name -> start/end ms) of each SQL execution of `key`. */
  def plansOf(key: String): Seq[Map[String, (Long, Long)]] =
    synchronized(plans.get(key).map(_.toSeq).getOrElse(Nil))

  private def keyOf(props: java.util.Properties): Option[String] = Option(props).flatMap { p =>
    Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith(Tracer.Prefix))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      counters.getOrElseUpdate(k, new Counters).jobs += 1
      e.stageIds.foreach(stageKey(_) = k)
      jobKey(e.jobId) = (k, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (k, start) =>
      jobSpans.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((e.jobId, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(counters.getOrElseUpdate(_, new Counters).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = counters.getOrElseUpdate(k, new Counters)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime; c.deserMs += m.executorDeserializeTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(Tracer.Prefix))
        .foreach(g => synchronized(execGroup(s.executionId) = g))
    case end: SparkListenerSQLExecutionEnd =>
      synchronized(execGroup.remove(end.executionId)).foreach { g =>
        org.apache.spark.sql.perfbench.Bridge.queryExecution(end).foreach { qe =>
          val ph = qe.tracker.phases.map { case (n, p) => n -> (p.startTimeMs, p.endTimeMs) }
          synchronized(plans.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ph)
        }
      }
    case _ =>
  }
}

object Tracer {
  final val Prefix = "perfbench:"
  def key(op: Long, phase: String): String = s"$Prefix$op:$phase"
}
