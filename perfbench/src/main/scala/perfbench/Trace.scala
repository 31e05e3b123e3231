package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into the program, plus
  * the Spark events that happened inside them.
  *
  * A span has a name, start, end, parent and the id of the operation
  * (import or query) it belongs to. Jobs are attributed to the span
  * through a local property set while the span is open (Spark copies it
  * to the threads that run broadcasts and adaptive stages); tasks and
  * stages follow their job; Catalyst phases are attributed by their own
  * start time to the innermost span open then. Nothing overlaps: one
  * client runs one operation at a time.
  *
  * Listeners are registered only while a traced operation runs
  * ([[op]]), so untraced operations pay nothing.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Span] = Nil
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stagesDone = new ConcurrentLinkedQueue[Integer]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobs.add(JobRec(e.jobId, span, e.stageInfos.map { s =>
        val names = s.rddInfos.map(_.name)
        StageRec(s.stageId, names.exists(_.contains("JDBCRDD")),
          names.exists(_.contains("DataSourceRDD")))
      }))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs, p.durationMs))
      }
  }

  /** Runs one traced operation: listeners on, a root span named `name`,
    * then a drain so every event of the operation is in before the
    * listeners come off. */
  def op[T](name: String, opId: Int)(f: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try span(name, opId)(f)
    finally {
      PerfbenchBus.drain(sc)
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(listener)
    }
  }

  /** The innermost open span. */
  def current: Span = open.head

  def span[T](name: String, opId: Int = open.headOption.map(_.op).getOrElse(-1))(f: => T): T = {
    val s = Span(spans.size, name, opId, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, before)
    }
  }

  /** Spark counts per span id (own events only, not children's). */
  def counts: Map[Int, Counts] = {
    val out = mutable.Map.empty[Int, Counts].withDefault(_ => Counts())
    val stageSpan = mutable.Map.empty[Int, (Int, StageRec)]
    jobs.asScala.foreach { j =>
      out(j.span) = out(j.span).copy(jobs = out(j.span).jobs + 1)
      j.stages.foreach(s => if (!stageSpan.contains(s.stageId)) stageSpan(s.stageId) = (j.span, s))
    }
    stagesDone.asScala.foreach { id =>
      stageSpan.get(id).foreach { case (sp, _) => out(sp) = out(sp).copy(stages = out(sp).stages + 1) }
    }
    tasks.asScala.foreach { t =>
      stageSpan.get(t.stageId).foreach { case (sp, st) =>
        val c = out(sp)
        out(sp) = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + t.runMs,
          gcMs = c.gcMs + t.gcMs, shuffleRead = c.shuffleRead + t.shuffleRead,
          shuffleWrite = c.shuffleWrite + t.shuffleWrite, spill = c.spill + t.spill,
          jdbcRowsRead = c.jdbcRowsRead + (if (st.jdbc) t.recordsRead else 0L),
          sourceRowsRead = c.sourceRowsRead + (if (st.dsv2 && !st.jdbc) t.recordsRead else 0L),
          rowsWritten = c.rowsWritten + t.recordsWritten)
      }
    }
    // a phase belongs to the innermost span that was open when it started
    phases.asScala.foreach { p =>
      val inner = spans.filter(s => s.startMs <= p.startMs && p.startMs <= s.endMs)
        .sortBy(s => -s.startNs).headOption
      inner.foreach { s =>
        val c = out(s.id)
        out(s.id) = p.name match {
          case "analysis" => c.copy(analysisMs = c.analysisMs + p.durationMs)
          case "optimization" => c.copy(optimizationMs = c.optimizationMs + p.durationMs)
          case "planning" => c.copy(planningMs = c.planningMs + p.durationMs)
          case _ => c
        }
      }
    }
    out.toMap
  }

  /** Counts of a span and all its descendants. */
  def subtree(id: Int, cs: Map[Int, Counts]): Counts = {
    val kids = spans.filter(_.parent == id).map(k => subtree(k.id, cs))
    kids.foldLeft(cs.getOrElse(id, Counts()))(_ + _)
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, op: Int, parent: Int,
      startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    /** Rows the spanned call reported, where it reports any. */
    var rows: Long = 0
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class StageRec(stageId: Int, jdbc: Boolean, dsv2: Boolean)
  final case class JobRec(jobId: Int, span: Int, stages: Seq[StageRec])
  final case class TaskRec(stageId: Int, runMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, recordsRead: Long,
      recordsWritten: Long)
  final case class PhaseRec(name: String, startMs: Long, durationMs: Long)

  final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskMs: Long = 0, gcMs: Long = 0, shuffleRead: Long = 0,
      shuffleWrite: Long = 0, spill: Long = 0, jdbcRowsRead: Long = 0,
      sourceRowsRead: Long = 0, rowsWritten: Long = 0, analysisMs: Long = 0,
      optimizationMs: Long = 0, planningMs: Long = 0) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
      shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
      spill + o.spill, jdbcRowsRead + o.jdbcRowsRead,
      sourceRowsRead + o.sourceRowsRead, rowsWritten + o.rowsWritten,
      analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
      planningMs + o.planningMs)
  }
}
