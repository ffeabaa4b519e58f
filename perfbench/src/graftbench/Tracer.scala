package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The scheduler and executor ledger of a traced run.
  *
  * Every job the harness causes carries a job group naming the query
  * execution (`p<pass>/<query>`) and a local property naming the phase
  * (`construct`, `plan` or `execute`) it started in. The listener keeps
  * one record per job and sums task metrics per job group. Events
  * arrive on Spark's listener thread; readers call
  * [[org.apache.spark.GraftBenchBus.drain]] first and then read under
  * the same lock. */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageOwner = mutable.HashMap.empty[Int, Job]
  private val sums = mutable.HashMap.empty[String, TaskSums]

  private def groupSums(group: String): TaskSums = sums.getOrElseUpdate(group, new TaskSums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val job = new Job(e.jobId,
      props.map(_.getProperty("spark.jobGroup.id")).flatMap(Option(_)).getOrElse(""),
      props.map(_.getProperty(PhaseKey)).flatMap(Option(_)).getOrElse(""),
      e.time)
    jobs += job
    jobById(e.jobId) = job
    e.stageIds.foreach(stageOwner(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { j =>
      j.stages += 1
      groupSums(j.group).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { j =>
      j.tasks += 1
      val s = groupSums(j.group)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Jobs whose group starts with `prefix`, in start order. */
  def jobsOf(prefix: String): Seq[Job] = synchronized {
    jobs.filter(_.group.startsWith(prefix)).toList
  }

  /** Task sums over every group that starts with `prefix`. */
  def totals(prefix: String): TaskSums = synchronized {
    val out = new TaskSums
    sums.foreach { case (g, s) => if (g.startsWith(prefix)) out.add(s) }
    out
  }
}

object Tracer {
  val PhaseKey = "graftbench.phase"

  final class Job(val id: Int, val group: String, val phase: String, val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0
  }

  final class TaskSums {
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L

    def add(o: TaskSums): Unit = {
      stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
      shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
      spillBytes += o.spillBytes; inputBytes += o.inputBytes
      inputRecords += o.inputRecords
    }
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `[from, to]` covered by the union of `intervals`. */
  def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.flatMap { case (s, e) =>
      val a = math.max(s, from); val b = math.min(e, to)
      if (b > a) Some((a, b)) else None
    })
}

/** The last successful query execution of the session it is registered
  * with. Spark delivers these on its listener bus; readers call
  * [[org.apache.spark.GraftBenchBus.drain]] before [[take]]. */
final class LastExecution extends QueryExecutionListener {
  @volatile private var last: Option[QueryExecution] = None

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = Some(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The last execution delivered, once. */
  def take(): Option[QueryExecution] = { val l = last; last = None; l }
}
