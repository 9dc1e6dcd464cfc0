package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: a call from the benchmark into a layer. */
case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spark job with the task metrics of all its stages summed. */
final class JobRecord(val jobId: Int, val span: Int, val op: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillDisk = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** Catalyst phase times of one executed query plan, and the files it wrote. */
case class PlanRecord(op: Int, analysisMs: Long, optimizerMs: Long, planningMs: Long,
                      filesWritten: Long)

/** Spans around every call the benchmark makes into a layer, plus the
  * Spark jobs and query plans those calls caused. With tracing off
  * `span` only runs its body: no clock reads, no listener.
  *
  * A job is attributed to the innermost span open when it was
  * submitted: the span id travels as a Spark local property, which
  * Spark copies into every job's properties (also for jobs that
  * adaptive execution submits from its own threads). Listener events
  * arrive asynchronously; each operation drains the listener bus before
  * it returns, so every job and plan event is stamped with the
  * operation that caused it (0 outside operations). */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.SpanProperty

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 1
  @volatile private var op = 0

  private val jobs = new ConcurrentLinkedQueue[JobRecord]()
  private val plans = new ConcurrentLinkedQueue[PlanRecord]()

  private val jobListener = new SparkListener {
    private val byJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      val j = new JobRecord(e.jobId, span, op, e.time)
      byJob.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.remove(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spillDisk += m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.outputRecords += m.outputMetrics.recordsWritten
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val files = qe.executedPlan.collect {
        case w: DataWritingCommandExec => w.metrics.get("numFiles")
      }.flatten.map(_.value).sum
      plans.add(PlanRecord(op, ms("analysis"), ms("optimization"), ms("planning"), files))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Runs `body` inside a span; operation roots use [[operation]]. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, System.nanoTime()) :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      try body
      finally {
        val (_, t0) = stack.head
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Root span of operation `opId`; events still in flight from before
    * it are delivered first, so they are not stamped with it. */
  def operation[T](opId: Int, kind: String)(body: => T): T = {
    drain()
    op = opId
    try span(s"op.$kind")(body)
    finally { drain(); op = 0 }
  }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def stop(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  def spanList: Seq[Span] = spans.toSeq
  def jobList: Seq[JobRecord] = jobs.asScala.toSeq
  def planList: Seq[PlanRecord] = plans.asScala.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
