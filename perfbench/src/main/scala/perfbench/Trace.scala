package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed region of the harness: wall clock in both the monotonic and
  * the epoch clock, so listener timestamps (epoch ms) can be laid on it.
  */
final case class Span(name: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** Run `body` as span `name`: jobs it submits carry the label (a
    * local property, inherited by threads started inside, such as
    * stream executions).
    */
  def timed[T](sc: SparkContext, name: String)(body: => T): (T, Span) = {
    sc.setLocalProperty(JobTracer.SpanKey, name)
    sc.setJobDescription(name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val t1 = System.nanoTime()
      (out, Span(name, t0, t1, ms0, ms0 + (t1 - t0) / 1000000L))
    } finally {
      sc.setLocalProperty(JobTracer.SpanKey, null)
      sc.setJobDescription(null)
    }
  }

  /** Length of the union of `intervals` (epoch ms) inside [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-span aggregate of the Spark jobs a span submitted. */
final case class JobStats(jobs: Int, stages: Int, tasks: Long,
    sites: Map[String, Int], executorBusyS: Double, driverGapS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    filesRead: Long, bytesRead: Long, rowsRead: Long)

/** Child spans for every Spark job, from a `SparkListener`. A job
  * belongs to the span whose label it carries; its layer comes from
  * its call site (`isEmpty at Runner.scala:75`): the SQL execution's
  * for Dataset actions, else the result stage's name.
  */
final class JobTracer extends SparkListener {
  import JobTracer.{Job, Stage}

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stages = mutable.Map.empty[Int, Stage]
  // SQL execution id -> the call site of the action that started it
  private val execSites = mutable.Map.empty[Long, String]
  // (execution id, files) from the scans' driver-side metrics
  private val files = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(JobTracer.SpanKey))).foreach { span =>
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(span, site, exec, e.time, e.time)
      e.stageInfos.foreach(s => stageSpan.getOrElseUpdate(s.stageId, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (stageSpan.contains(info.stageId) && info.taskMetrics != null) {
      val m = info.taskMetrics
      stages(info.stageId) = Stage(info.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      JobTracer.userSite(x.details).foreach(s => synchronized { execSites(x.executionId) = s })
    case u: SparkListenerDriverAccumUpdates =>
      val n = u.accumUpdates.collect {
        case (id, v) if Internals.accumulatorName(id).contains("number of files read") => v
      }.sum
      if (n > 0) synchronized { files += ((u.executionId, n)) }
    case _ =>
  }

  /** Aggregate for `spans`, measured against their wall clock. Call
    * after [[JobTracer.drain]].
    */
  def stats(spans: Seq[Span]): JobStats = synchronized {
    val names = spans.map(_.name).toSet
    // jobs of a SQL execution (AQE query stages and broadcasts run on
    // other threads) take the call site of the action that started it
    val js = jobs.values.filter(j => names(j.span)).toSeq
      .map(j => j.copy(callSite = execSites.getOrElse(j.execId, j.callSite)))
    val ss = stageSpan.collect { case (id, s) if names(s) => stages.get(id) }.flatten.toSeq
    val execs = js.map(_.execId).filter(_ >= 0).toSet
    val busyMs = ss.map(_.runMs).sum
    val gapMs = spans.map { sp =>
      val mine = js.filter(_.span == sp.name).map(j => (j.startMs, j.endMs))
      (sp.endMs - sp.startMs) - Span.covered(mine, sp.startMs, sp.endMs)
    }.sum
    JobStats(
      jobs = js.size,
      stages = ss.size,
      tasks = ss.map(_.tasks.toLong).sum,
      sites = js.groupBy(_.callSite).map { case (k, v) => k -> v.size },
      executorBusyS = busyMs / 1000.0,
      driverGapS = gapMs / 1000.0,
      shuffleReadBytes = ss.map(_.shRead).sum,
      shuffleWriteBytes = ss.map(_.shWrite).sum,
      spillBytes = ss.map(_.spill).sum,
      filesRead = files.collect { case (x, n) if execs(x) => n }.sum,
      bytesRead = ss.map(_.inBytes).sum,
      rowsRead = ss.map(_.inRows).sum)
  }
}

object JobTracer {
  val SpanKey = "perfbench.span"

  private final case class Job(span: String, callSite: String, execId: Long,
      startMs: Long, var endMs: Long)
  private final case class Stage(tasks: Int, runMs: Long, shRead: Long,
      shWrite: Long, spill: Long, inBytes: Long, inRows: Long)

  /** Engine call-site layer of a job: sequence-engine jobs first (they
    * also call isEmpty/collect), then the action that submitted it.
    */
  def layer(callSite: String): String = {
    val method = callSite.takeWhile(_ != ' ')
    if (callSite.contains(" at Sequence.scala:")) "sequence"
    else if (method.toLowerCase.contains("checkpoint")) "checkpoint"
    else if (method == "isEmpty") "isEmpty"
    else if (method == "collect") "collect"
    else "other"
  }

  def drain(sc: SparkContext): Unit = Internals.drainListenerBus(sc)

  /** `isEmpty at Runner.scala:75` from a call site's long form, whose
    * first line is the Spark action and whose first frame outside
    * Spark, Scala and Java is the caller.
    */
  def userSite(longForm: String): Option[String] = {
    val lines = Option(longForm).toSeq.flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
    val frame = "(?:at )?(.+)\\.([^.(]+)\\(([^)]*)\\)".r
    def parse(l: String) = l match {
      case frame(cls, method, loc) => Some((cls, method, loc))
      case _ => None
    }
    for {
      (_, action, _) <- lines.headOption.flatMap(parse)
      (_, _, loc) <- lines.flatMap(parse).find { case (cls, _, _) =>
        !Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(cls.startsWith) }
    } yield s"$action at $loc"
  }
}

/** Per-batch progress of the stream queries, from a
  * `StreamingQueryListener` (Structured Streaming's progress API).
  */
final class StreamTracer extends StreamingQueryListener {
  import StreamTracer.Batch

  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val b = Batch(p.runId.toString, p.batchId, Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum)
    synchronized { batches += b }
  }

  def of(runIds: Set[String]): Seq[Batch] = synchronized {
    batches.filter(b => runIds(b.runId)).toSeq
  }
}

object StreamTracer {
  final case class Batch(runId: String, batchId: Long, startMs: Long,
      inputRows: Long, durations: Map[String, Long], stateRows: Long,
      stateMemory: Long, stateCommitMs: Long)
}
