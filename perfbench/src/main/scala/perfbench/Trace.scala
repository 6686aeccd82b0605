package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbenchbridge.Bridge

/** One timed call from the benchmark into a module of the program. `layer`
  * names the module called; `run` is the job (or pass) the call belongs to,
  * so all spans of one job share it. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    run: Int, startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    attrs: Map[String, Any])

/** Engine work attributed to one span: jobs are attributed through the
  * `perfbench.span` local property set on the client thread while the span
  * is innermost, SQL executions by the span whose interval holds their
  * start time. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes = 0L
  var outputBytes, outputRecords = 0L
  var runMs, cpuMs, gcMs = 0.0
  var sqlExecs, actions = 0L
  var planMs = 0.0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords, "exec_run_ms" -> runMs,
    "exec_cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "sql_execs" -> sqlExecs,
    "actions" -> actions, "plan_ms" -> planMs)
}

/** Spark listener that keeps raw job, stage, task and SQL-execution facts
  * in memory; [[Tracer.finish]] attributes them to spans. */
final class Collector extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Collector.Job]
  val stageSpan = mutable.Map.empty[Int, Long]
  val perSpan = mutable.Map.empty[Long, Counters]
  val execStart = mutable.Map.empty[Long, Long]
  val execPlanMs = mutable.Map.empty[Long, Double]

  def counters(span: Long): Counters = perSpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs += Collector.Job(e.jobId, span, exec)
    e.stageIds.foreach(stageSpan(_) = span)
    counters(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageSpan.getOrElse(e.stageInfo.stageId, -1L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1L))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time
      case end: SparkListenerSQLExecutionEnd =>
        execPlanMs(end.executionId) = Bridge.planMs(end)
      case _ => ()
    }
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays one branch per call. */
final class Tracer {
  @volatile var enabled = false
  var run = 0
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var sc: Option[SparkContext] = None
  private var collector: Option[Collector] = None

  def start(context: SparkContext): Unit = {
    val c = new Collector
    context.addSparkListener(c)
    sc = Some(context)
    collector = Some(c)
    enabled = true
  }

  def span[T](name: String, layer: String, attrs: Map[String, Any] = Map.empty)
      (body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
        stack.pop()
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.toString).orNull))
        spans += Span(id, parent, name, layer, run, s0, s1, m0, m1, attrs)
      }
    }

  /** Stop tracing, drain the listener bus and attribute the engine facts
    * to spans. Returns counters by span id (exclusive of child spans). */
  def finish(): Map[Long, Counters] = {
    enabled = false
    (sc, collector) match {
      case (Some(context), Some(c)) =>
        Bridge.drainListeners(context)
        context.removeSparkListener(c)
        c.synchronized {
          // Executions: the innermost span whose wall interval holds the start.
          def innermost(t: Long): Long = spans
            .filter(s => s.startMs <= t && t <= s.endMs)
            .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(-1L)
          c.execStart.foreach { case (exec, t) =>
            val cs = c.counters(innermost(t))
            cs.sqlExecs += 1
            cs.planMs += c.execPlanMs.getOrElse(exec, 0.0)
          }
          // Actions that ran jobs: a run of consecutive jobs of one span and
          // one SQL execution (or of none: an RDD action on a query's plan, or
          // the per-partition jobs a local iterator starts after its
          // execution has ended) is one action.
          c.jobs.sortBy(_.id).foldLeft(Option.empty[(Long, Option[Long])]) { (prev, j) =>
            val key = (j.span, j.execId)
            if (!prev.contains(key)) c.counters(j.span).actions += 1
            Some(key)
          }
          c.perSpan.toMap
        }
      case _ => Map.empty
    }
  }
}

object Collector {
  final case class Job(id: Int, span: Long, execId: Option[Long])
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
