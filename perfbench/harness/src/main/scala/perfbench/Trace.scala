package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch microseconds; `parent` is -1 for the
  * root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long)

/** Harness spans. Recording is a buffer append, so untraced runs keep
  * them too (they are how build and action times are taken); only the
  * listeners below are limited to traced runs. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, kind: String, name: String, start: Long,
      end: Long): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, kind, name, start, end)
    id
  }

  /** Start a span now; it has no end until [[close]]. */
  def open(parent: Int, kind: String, name: String): Int =
    add(parent, kind, name, Util.nowMicros(), Long.MaxValue)

  def close(id: Int): Unit = synchronized {
    buf(id) = buf(id).copy(end = Util.nowMicros())
  }

  /** Time `body` as a span under `parent`; the span is kept if it throws. */
  def timed[T](parent: Int, kind: String, name: String)(body: => T): T = {
    val id = open(parent, kind, name)
    try body finally close(id)
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Task metrics summed over the tasks of one job. */
final class JobTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillB = 0L
  var peakMemB = 0L
  var inputB = 0L
  var inputRows = 0L
}

final case class JobRec(id: Int, start: Long, end: Long, execId: Long,
    totals: JobTotals)

final case class SqlRec(id: Long, start: Long, end: Long, description: String)

/** Catalyst phase times of one action, stamped with its planning start. */
final case class PhaseRec(at: Long, analysisMs: Double, optimizationMs: Double,
    planningMs: Double)

/** The traced run's listeners: jobs and tasks (SparkListener), SQL
  * executions (their start/end events), Catalyst phases
  * (QueryExecutionListener) and streaming progress. Events are kept raw;
  * attribution to phases happens after the run by time. */
final class Listeners extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val totals = new ConcurrentHashMap[Int, JobTotals]()
  private val jobsDone = new ConcurrentLinkedQueue[JobRec]()
  private val sqlStart = new ConcurrentHashMap[Long, (Long, String)]()
  private val sqlDone = new ConcurrentLinkedQueue[SqlRec]()
  private val phasesDone = new ConcurrentLinkedQueue[PhaseRec]()
  private val progressDone = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, (e.time * 1000L, exec))
    totals.put(e.jobId, new JobTotals)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, exec) = jobStart.getOrDefault(e.jobId, (e.time * 1000L, -1L))
    jobsDone.add(JobRec(e.jobId, start, e.time * 1000L, exec,
      totals.getOrDefault(e.jobId, new JobTotals)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t = Option(stageJob.get(e.stageId)).flatMap(j => Option(totals.get(j)))
    if (m != null && t.isDefined) t.get.synchronized {
      val a = t.get
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillB += m.diskBytesSpilled
      a.peakMemB = math.max(a.peakMemB, m.peakExecutionMemory)
      a.inputB += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, (s.time * 1000L, s.description))
    case s: SparkListenerSQLExecutionEnd =>
      val (start, d) = sqlStart.getOrDefault(s.executionId,
        (s.time * 1000L, ""))
      sqlDone.add(SqlRec(s.executionId, start, s.time * 1000L, d))
    case _ =>
  }

  val queryExecution: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val at = p.get("planning").orElse(p.get("analysis"))
      .map(_.startTimeMs * 1000L).getOrElse(Util.nowMicros())
    phasesDone.add(PhaseRec(at, ms("analysis"), ms("optimization"),
      ms("planning")))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progressDone.add(e.progress)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def jobs: Seq[JobRec] = jobsDone.asScala.toSeq
  def sqlExecutions: Seq[SqlRec] = sqlDone.asScala.toSeq
  def catalyst: Seq[PhaseRec] = phasesDone.asScala.toSeq
  def progress: Seq[StreamingQueryProgress] = progressDone.asScala.toSeq
}

object SpanTree {

  /** Start of a streaming progress report in epoch microseconds. */
  def progressStart(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L

  def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Every span of the run: the harness spans plus, in a traced run, one
    * span per SQL execution, job and stream batch. A listener span's
    * parent is its SQL execution (for a job that has one) or else the
    * innermost harness span that contains its start. */
  def build(harness: Seq[Span], l: Option[Listeners]): Seq[Span] = l match {
    case None => harness
    case Some(ls) =>
      val out = mutable.ArrayBuffer.from(harness)
      def innermost(t: Long): Int = {
        val c = harness.filter(s => s.start <= t && t < s.end)
        if (c.isEmpty) 0 else c.maxBy(s => (s.start, s.id)).id
      }
      val sqlIds = mutable.Map.empty[Long, Int]
      ls.sqlExecutions.sortBy(_.start).foreach { s =>
        val id = out.size
        out += Span(id, innermost(s.start), "sql", s.description, s.start,
          s.end)
        sqlIds(s.id) = id
      }
      ls.jobs.sortBy(_.start).foreach { j =>
        val parent = sqlIds.getOrElse(j.execId, innermost(j.start))
        out += Span(out.size, parent, "job", s"job ${j.id}", j.start, j.end)
      }
      ls.progress.foreach { p =>
        val st = progressStart(p)
        val en = st + (duration(p, "triggerExecution") * 1000).toLong
        out += Span(out.size, innermost(st), "batch",
          s"${p.name} batch ${p.batchId}", st, en)
      }
      out.toSeq
  }

  /** Self time of every span, in microseconds. Each span is first clipped
    * to its parent; every instant of the root is then given to exactly
    * one span — the deepest one active, the latest started among equals —
    * so self times add up to the root's duration even where sibling
    * spans (concurrent jobs) overlap. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    val clipped = mutable.Map.empty[Int, (Long, Long, Int)]
    def clip(s: Span): (Long, Long, Int) = clipped.getOrElseUpdate(s.id, {
      if (s.parent < 0 || s.parent == s.id || !byId.contains(s.parent))
        (s.start, math.max(s.start, s.end), 0)
      else {
        val (ps, pe, pd) = clip(byId(s.parent))
        val st = math.min(math.max(s.start, ps), pe)
        (st, math.max(st, math.min(s.end, pe)), pd + 1)
      }
    })
    spans.foreach(clip)
    val iv = spans.map(s => (s.id, clipped(s.id)))
      .filter { case (_, (a, b, _)) => b > a }
    val cuts = iv.flatMap { case (_, (a, b, _)) => Seq(a, b) }.distinct.sorted
    val self = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = iv.filter { case (_, (s, e, _)) => s <= a && b <= e }
      if (active.nonEmpty) {
        val (id, _) = active.maxBy { case (i, (s, _, d)) => (d, s, i) }
        self(id) += b - a
      }
    }
    spans.map(s => s.id -> self(s.id)).toMap
  }
}
