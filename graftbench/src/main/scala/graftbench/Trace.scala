package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics summed over one stage attempt. */
final class StageAgg {
  var tasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0.0
  var inputRows, inputBytes, shuffleWrite, shuffleRead, spill = 0L
}

final case class JobRec(id: Int, op: Int, desc: String, startMs: Double, var endMs: Double)
final case class StageRec(id: Int, job: Int, startMs: Double, endMs: Double, agg: StageAgg)
final case class ExecRec(func: String, phases: Map[String, (Double, Double)],
                         joinRows: Long, files: Long)

/** Scheduler and executor layers, read from Spark's listener bus. Jobs
  * are tied to ops by the `op<id>:` prefix of `spark.job.description`.
  * Callbacks run on the bus thread; the client reads the maps only after
  * [[org.apache.spark.BenchAccess.drain]]. */
final class JobListener extends SparkListener {
  private val OpLabel = """op(\d+):.*""".r
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val aggs = mutable.HashMap.empty[(Int, Int), StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val op = desc match { case OpLabel(id) => id.toInt; case _ => -1 }
    jobs(e.jobId) = JobRec(e.jobId, op, desc, e.time.toDouble, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      val in = m.inputMetrics.recordsRead
      val sr = m.shuffleReadMetrics
      a.tasks += 1
      if (in == 0 && sr.recordsRead == 0) a.emptyTasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputRows += in
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
      a.spill += m.diskBytesSpilled
      // Spark UI's scheduler delay: task wall time not spent deserializing,
      // running or shipping the result.
      val i = e.taskInfo
      a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (sub <- i.submissionTime; done <- i.completionTime)
      stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), sub.toDouble, done.toDouble,
        aggs.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAgg))
  }
}

/** Catalyst layer: per SQL execution, the tracker's analysis,
  * optimization and planning phases, the rows out of every join node
  * and the files every scan listed. Executions are tied to ops by time,
  * since the single client runs one op at a time. */
final class ExecListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val execs = mutable.ArrayBuffer.empty[ExecRec]

  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    def metric(p: org.apache.spark.sql.execution.SparkPlan, m: String) =
      p.metrics.get(m).map(_.value).getOrElse(0L)
    val plan = qe.executedPlan
    val joinRows = collectWithSubqueries(plan) { case j: BaseJoinExec => metric(j, "numOutputRows") }.sum
    val files = collectWithSubqueries(plan) { case f: FileSourceScanExec => metric(f, "numFiles") }.sum
    synchronized { execs += ExecRec(func, phases, joinRows, files) }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)
}
