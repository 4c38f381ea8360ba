package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events from Spark's listener bus, kept in memory while [[on]] is
  * set. All times are epoch milliseconds, so each event can be attributed
  * afterwards to the pass and the query whose interval contains it: only
  * one query runs at a time. The bus delivers asynchronously, so events
  * are attributed only after it has drained ([[drain]]). */
object Trace {
  @volatile var on = false
  private val received = new AtomicLong

  final case class Job(id: Int, start: Long, execId: Option[Long], stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, start: Long, end: Long)
  final case class Task(end: Long, failed: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
                        deserMs: Long, shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
                        spill: Long, inBytes: Long, inRecords: Long, outBytes: Long, outRecords: Long)
  final case class Phases(start: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class Batch(run: String, start: Long, durations: Map[String, Long],
                         stateRows: Long, stateBytes: Long, stateCommitMs: Long)

  val jobs = new ConcurrentLinkedQueue[Job]
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val stages = new ConcurrentLinkedQueue[Stage]
  val tasks = new ConcurrentLinkedQueue[Task]
  /** execution id -> (start, root execution id) */
  val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]
  val sqlEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  val phases = new ConcurrentLinkedQueue[Phases]
  val streamStarts = new ConcurrentLinkedQueue[Long]
  val batches = new ConcurrentLinkedQueue[Batch]

  private def record(f: => Unit): Unit = if (on) { f; received.incrementAndGet(); () }

  /** Waits until no event has arrived for `quietMs`, at most `maxMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (received.get() != last && System.currentTimeMillis() < deadline) {
      last = received.get()
      Thread.sleep(quietMs)
    }
  }

  /** Jobs, stages, tasks, SQL executions and streaming progress. */
  class BusListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs.add(Job(e.jobId, e.time, exec, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = record { jobEnds.put(e.jobId, e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record {
      val s = e.stageInfo
      val end = s.completionTime.getOrElse(System.currentTimeMillis())
      stages.add(Stage(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(end), end))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      if (m == null) tasks.add(Task(e.taskInfo.finishTime, failed, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else {
        val r = m.shuffleReadMetrics
        tasks.add(Task(e.taskInfo.finishTime, failed, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten,
          r.remoteBytesRead + r.localBytesRead, r.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        record { sqlStarts.put(s.executionId, (s.time, s.rootExecutionId.getOrElse(s.executionId))) }
      case s: SparkListenerSQLExecutionEnd => record { sqlEnds.put(s.executionId, s.time) }
      case s: StreamingQueryListener.QueryStartedEvent =>
        record { streamStarts.add(Instant.parse(s.timestamp).toEpochMilli) }
      case p: StreamingQueryListener.QueryProgressEvent => record {
        val g = p.progress
        val ops = g.stateOperators
        batches.add(Batch(g.runId.toString, Instant.parse(g.timestamp).toEpochMilli,
          g.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
      }
      case _ =>
    }
  }
}

/** Catalyst phase times of every executed query, from
  * `QueryExecution.tracker`. Registered through the static conf
  * `spark.sql.queryExecutionListeners`, so the child sessions the
  * streaming runners create report too. */
class PhaseListener extends QueryExecutionListener {
  private def note(qe: QueryExecution): Unit = if (Trace.on) {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    val start = if (p.isEmpty) System.currentTimeMillis() else p.values.map(_.startTimeMs).min
    Trace.phases.add(Trace.Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
}
