package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload: a daily load, a dashboard query or a
  * DML statement. `client` is the closed-loop client that issued it. */
final case class OpRecord(id: Long, client: Int, kind: String, start: Long, end: Long, ok: Boolean) {
  def durNs: Long = end - start
}

/** A finished Spark job as the bench-registered listener saw it. Times are
  * converted onto the tracer's nanosecond clock. */
final case class JobRecord(jobId: Int, start: Long, end: Long, op: Option[Long], stageIds: Seq[Int])

/** Task totals of one completed stage. */
final case class StageRecord(stageId: Int, tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** One successful `QueryExecution`: its tracker phases and the files its
  * executed plan scanned. `start` is the analysis phase start. */
final case class QueryRecord(client: Int, start: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, filesScanned: Long)

/** Records operations always, and, when `traced`, spans around every
  * public call the workload makes plus Spark's job, stage and query events
  * through listeners the bench registers itself. Nothing here reaches into
  * the engine: spans are taken around calls, counts come from listeners. */
final class Tracer(val traced: Boolean) {
  private val clockNs0 = System.nanoTime()
  private val clockMs0 = System.currentTimeMillis()
  /** A listener event's wall-clock millis on the span clock. */
  def msToNs(ms: Long): Long = clockNs0 + (ms - clockMs0) * 1000000L

  private val ids = new AtomicLong(1)
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRecord]()
  val stages = new ConcurrentLinkedQueue[StageRecord]()
  val queries = new ConcurrentLinkedQueue[QueryRecord]()

  private val last = new ThreadLocal[Long]
  /** Id of the op this thread finished last. */
  def lastOp: Long = last.get

  import Tracer.Frame
  private val stack = new ThreadLocal[List[Frame]] { override def initialValue(): List[Frame] = Nil }

  /** Times `body` as one operation of `kind`. A throwing body is recorded as
    * failed and rethrown. When traced, the op is the root span of its calls
    * and the op id rides on the Spark jobs it starts. */
  def op[A](spark: SparkSession, client: Int, kind: String)(body: => A): A = {
    val id = ids.getAndIncrement()
    if (traced) {
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
      stack.set(List(Frame(id, id)))
    }
    val t0 = System.nanoTime()
    var ok = false
    try {
      val r = body
      ok = true
      r
    } finally {
      val t1 = System.nanoTime()
      ops.add(OpRecord(id, client, kind, t0, t1, ok))
      last.set(id)
      if (traced) {
        spans.add(Span(id, id, None, "bench", kind, t0, t1))
        stack.set(Nil)
        spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
      }
    }
  }

  /** A span around one public call into the engine, under the current op. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!traced || stack.get.isEmpty) body
    else {
      val parent = stack.get.head
      val id = ids.getAndIncrement()
      stack.set(Frame(id, parent.op) :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent.op, Some(parent.id), layer, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  private val sessionClients = new java.util.concurrent.ConcurrentHashMap[SparkSession, Integer]()

  /** Registers the listeners on `spark` (and, for the Spark-level one, its
    * shared context) and maps the session to `client` so planning events
    * can be matched to that client's operations. */
  def attach(spark: SparkSession, client: Int): Unit = if (traced) {
    if (sessionClients.isEmpty) spark.sparkContext.addSparkListener(sparkListener)
    sessionClients.put(spark, client)
    spark.listenerManager.register(queryListener)
  }

  private val sparkListener = new SparkListener {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Option[Long], Seq[Int])]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
        .flatMap(_.toLongOption)
      starts.put(e.jobId, (msToNs(e.time), op, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { case (s, op, st) =>
        jobs.add(JobRecord(e.jobId, s, msToNs(e.time), op, st))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.add(StageRecord(i.stageId, i.numTasks, m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = phases.get("analysis").orElse(phases.values.headOption)
        .map(s => msToNs(s.startTimeMs)).getOrElse(System.nanoTime())
      val client = Option(sessionClients.get(qe.sparkSession)).map(_.intValue).getOrElse(-1)
      queries.add(QueryRecord(client, start, ms("analysis"), ms("optimization"), ms("planning"),
        Tracer.filesScanned(qe)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def opList: Seq[OpRecord] = ops.asScala.toSeq.sortBy(_.start)
  def spanList: Seq[Span] = spans.asScala.toSeq
}

object Tracer extends AdaptiveSparkPlanHelper {
  val OpProperty = "lakebench.op"

  /** An open span on a thread's call stack. */
  private final case class Frame(id: Long, op: Long)

  /** Files opened by the executed plan's file scans, read from each scan's
    * own `numFiles` metric (adaptive stages and subqueries included). */
  def filesScanned(qe: QueryExecution): Long =
    scala.util.Try(collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum).getOrElse(0L)
}
