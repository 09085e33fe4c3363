package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

final case class JobRec(id: Int, startMs: Long, var endMs: Long, op: String, executionId: Long,
                        callSite: String, var tasks: Long = 0, var failedTasks: Long = 0,
                        var runMs: Long = 0, var cpuNs: Long = 0, var shuffleWriteBytes: Long = 0,
                        var spillBytes: Long = 0, var inputBytes: Long = 0,
                        var outputBytes: Long = 0, var recordsWritten: Long = 0)

final case class SqlExec(id: Long, rootId: Long, plan: String, startMs: Long, var endMs: Long)

final case class PhaseRec(phase: String, startMs: Long, durationMs: Long)

/** The layer recorder. It lives entirely outside the engine: a
  * `SparkListener` for jobs, tasks and SQL executions, each job tagged
  * with the benchmark operation that launched it, and a `QueryExecutionListener` for Catalyst's
  * `tracker.phases`. Everything stays in memory until the run ends.
  * A disabled recorder records nothing and registers nothing. */
final class Recorder(val enabled: Boolean) {
  private val jobMap = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execMap = new java.util.concurrent.ConcurrentHashMap[Long, SqlExec]()
  private val phaseQ = new ConcurrentLinkedQueue[PhaseRec]()

  def jobs: Seq[JobRec] = jobMap.values.asScala.toSeq.sortBy(_.id)
  def executions: Seq[SqlExec] = execMap.values.asScala.toSeq.sortBy(_.id)
  def phases: Seq[PhaseRec] = phaseQ.asScala.toSeq

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the long call site is the stack of the thread that launched the
      // job; the final stage carries it
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobMap.put(e.jobId, JobRec(e.jobId, e.time, -1L, prop(Recorder.OpKey).getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobMap.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobMap.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.reason != org.apache.spark.Success) j.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.inputBytes += m.inputMetrics.bytesRead
            j.outputBytes += m.outputMetrics.bytesWritten
            j.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execMap.put(s.executionId, SqlExec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.physicalPlanDescription, s.time, -1L))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execMap.get(s.executionId)).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  private[perfbench] def onQuery(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phaseQ.add(PhaseRec(name, p.startTimeMs, p.durationMs))
    }
}

object Recorder {
  /** Local property naming the benchmark operation a job belongs to. */
  val OpKey = "perfbench.op"

  @volatile private[perfbench] var current: Recorder = new Recorder(false)

  /** The module of a graft call site: the innermost `graft.` frame of
    * the launching stack, by package (`graft.ext.Versioned` → `ext`)
    * or by top-level object (`graft.SparkEntry` → `SparkEntry`). A job
    * the benchmark itself launches (the noop write that consumes a
    * catalog query, a correctness check) is `benchmark`. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") =>
        f.takeWhile(_ != '(').split('.')(1).takeWhile(_ != '$')
      case f if f.startsWith("perfbench.") => "benchmark"
    }

  /** Union length of closed intervals, in the intervals' unit. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session of the run, `newSession()`s included, reports to the
  * current recorder. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Recorder.current.onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Recorder.current.onQuery(qe)
}
