package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer call: `parent` is the enclosing span's id (-1 at the op
  * root), `op` the closed-loop operation it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** Scheduler and executor counters of the jobs one span started. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var execRunMs = 0L
  var execGcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execCpuNs += o.execCpuNs; execRunMs += o.execRunMs; execGcMs += o.execGcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputRows += o.inputRows
  }
}

/** Spans around the benchmark's calls into graft, kept in memory. Each
  * open span tags the driver thread's Spark jobs through a local
  * property, so the listener can charge jobs, stages and tasks to the
  * innermost span that started them. A disabled tracer runs the body
  * and records nothing.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanProperty
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  private var nextId = 0
  private val open = mutable.Stack.empty[Int]
  private var currentOp = -1

  def op[T](opId: Int)(f: => T): T = {
    currentOp = opId
    try span("op")(f) finally currentOp = -1
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      open.push(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.pop()
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
        spans += Span(id, name, t0, t1, parent, currentOp)
      }
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Charges each finished stage's task metrics to the span that started
  * its job, and records job-active intervals.
  */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  val bySpan = mutable.HashMap.empty[Int, SparkCounters]
  /** (span, start ms, end ms) of every tagged job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private def counters(span: Int): SparkCounters =
    bySpan.getOrElseUpdate(span, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
    tag.foreach { t =>
      val span = t.toInt
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
      counters(span).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      jobIntervals += ((span, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { span =>
      val c = counters(span)
      val m = si.taskMetrics
      c.stages += 1
      c.tasks += si.numTasks
      if (m != null) {
        c.execCpuNs += m.executorCpuTime
        c.execRunMs += m.executorRunTime
        c.execGcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wall milliseconds during which at least one job of `spans` ran. */
  def jobActiveMs(spans: Set[Int]): Long = synchronized {
    val sorted = jobIntervals.filter(j => spans(j._1)).map(j => (j._2, j._3)).sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Sums Catalyst's analysis / optimization / planning phase times of
  * every query that finished while registered.
  */
final class CatalystListener extends QueryExecutionListener {
  val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var queries = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    queries += 1
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs(phase) += summary.durationMs
    }
  }
}
