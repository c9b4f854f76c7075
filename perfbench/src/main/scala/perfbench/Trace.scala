package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as Spark listener event times (which are epoch milliseconds).
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is the id of the span that caused it, or
  * -1; `batch` is the loop batch it belongs to, or -1 outside the loop.
  */
final case class Span(id: Long, name: String, kind: String, start: Double,
    end: Double, parent: Long, batch: Int) {
  def dur: Double = end - start
}

/** Facts the Spark listeners record, joined to batches by time after the
  * run. All times are epoch milliseconds.
  */
final case class JobRec(id: Int, start: Double, var end: Double, execId: Long)
final case class StageRec(submit: Double)
final case class TaskRec(launch: Double, cpuMs: Double, runMs: Double,
    shuffleWrite: Long, input: Long, spill: Long)
final case class ExecRec(id: Long, start: Double, var end: Double, desc: String)
final case class QeRec(start: Double, planMs: Double, durMs: Double,
    output: Option[String], scanRows: Seq[(String, Long)])
final case class ProgressRec(triggerStart: Double, rows: Long,
    durations: Map[String, Long])

/** The harness's tracer. Harness call spans come from [[call]]; SQL
  * executions, jobs, stages and tasks come from listeners the tracer
  * registers on the session itself, so nothing inside the program is
  * instrumented. Everything is kept in memory and joined when the run ends.
  * A disabled tracer registers nothing and records only batch windows.
  */
final class Tracer(val enabled: Boolean) {
  private var nextId = 0L
  private val harness = mutable.ArrayBuffer.empty[Span]
  /** Ids of the spans open on the loop thread, innermost first. */
  private var open: List[Long] = Nil
  private var curBatch = -1

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val execById = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()

  private def fresh(): Long = { nextId += 1; nextId }

  /** Time one loop batch; returns the body's result and its wall ms. */
  def batch[A](i: Int)(f: => A): (A, Double) = {
    val id = fresh()
    val t0 = Clock.nowMs
    curBatch = i
    open = List(id)
    try {
      val a = f
      (a, Clock.nowMs - t0)
    } finally {
      harness += Span(id, "batch", "batch", t0, Clock.nowMs, -1, i)
      open = Nil
      curBatch = -1
    }
  }

  /** A span around one harness call into the program's public API. */
  def call[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = fresh()
      val parent = open.headOption.getOrElse(-1L)
      val t0 = Clock.nowMs
      open = id :: open
      try f
      finally {
        open = open.tail
        harness += Span(id, name, "call", t0, Clock.nowMs, parent, curBatch)
      }
    }

  def harnessSpans: Seq[Span] = harness.toSeq

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val r = JobRec(e.jobId, e.time.toDouble, e.time.toDouble, exec)
      jobById.put(e.jobId, r)
      jobs.add(r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stages.add(StageRec(t.toDouble)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime.toDouble,
        m.executorCpuTime / 1e6, m.executorRunTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val r = ExecRec(s.executionId, s.time.toDouble, s.time.toDouble, s.description)
        execById.put(s.executionId, r)
        execs.add(r)
      case s: SparkListenerSQLExecutionEnd =>
        Option(execById.get(s.executionId)).foreach(_.end = s.time.toDouble)
      case _ =>
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    private val cachedSeen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    /** Rows each file scan produced, keyed by the scanned root path. A
      * cached plan's scans ran when it was first materialized: they count
      * for the first execution that reads the cache.
      */
    def scanRows(plan: SparkPlan): Seq[(String, Long)] =
      collectWithSubqueries(plan) {
        case s: FileSourceScanExec =>
          val rows = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          s.relation.location.rootPaths.map(p => (p.toUri.getPath, rows))
        case c: InMemoryTableScanExec if cachedSeen.add(c.relation.cachedPlan) =>
          scanRows(c.relation.cachedPlan)
      }.flatten
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      // execution follows physical planning; a Dataset may have been
      // analyzed long before it runs
      val start = phases.get("planning").orElse(phases.values.headOption)
        .map(_.startTimeMs.toDouble).getOrElse(0.0)
      val output = qe.analyzed.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
      }
      val scans = scala.util.Try(PlanWalk.scanRows(qe.executedPlan)).getOrElse(Nil)
      qes.add(QeRec(start, phases.values.map(_.durationMs).sum.toDouble,
        durationNs / 1e6, output, scans))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Every span of the run: batches and harness calls, plus SQL executions
    * and jobs from the listeners. A SQL execution's parent is the innermost
    * harness span open when it started; a job's parent is its SQL execution
    * when it has one, else the innermost harness span.
    */
  def allSpans(): Seq[Span] = {
    val hs = harness.toSeq
    def innermost(t: Double): Option[Span] =
      hs.filter(s => s.start <= t && t <= s.end).sortBy(_.dur).headOption
    var id = hs.map(_.id).foldLeft(nextId)(_ max _)
    val execSpans = execs.asScala.toSeq.map { e =>
      id += 1
      val p = innermost(e.start)
      e.id -> Span(id, "sql:" + e.desc.take(60), "sql", e.start, e.end,
        p.map(_.id).getOrElse(-1L), p.map(_.batch).getOrElse(-1))
    }.toMap
    val jobSpans = jobs.asScala.toSeq.map { j =>
      id += 1
      val p = execSpans.get(j.execId).orElse(innermost(j.start))
      Span(id, s"job:${j.id}", "job", j.start, j.end,
        p.map(_.id).getOrElse(-1L), p.map(_.batch).getOrElse(-1))
    }
    hs ++ execSpans.values.toSeq.sortBy(_.start) ++ jobSpans
  }

  /** Span duration minus the part of it that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (c.start max s.start, c.end min s.end)).filter(iv => iv._2 > iv._1)
      s.id -> (s.dur - Tracer.unionLength(ivs))
    }.toMap
  }

  def writeSpans(path: java.nio.file.Path): Int = {
    val spans = allSpans()
    val self = selfTimes(spans)
    val out = new StringBuilder
    spans.foreach { s =>
      out ++= s"""{"id":${s.id},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${self(s.id)}%.3f,""" +
        s""""parent":${s.parent},"batch":${s.batch}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out.toString)
    spans.size
  }
}

object Tracer {
  /** Total length of a set of intervals, overlaps counted once. */
  def unionLength(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
