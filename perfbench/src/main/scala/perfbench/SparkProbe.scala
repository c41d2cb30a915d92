package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** Benchmark-registered listeners: one `SparkListener` for jobs, stages
  * and task metrics, one `QueryExecutionListener` for the planning
  * phases of every completed action. Each job is kept with its own
  * interval, so the analysis attributes it to whichever span contains
  * it (the load is a single closed-loop client). */
final class SparkProbe extends SparkListener with QueryExecutionListener {

  private final class JobRec(val id: Int, val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val phases = mutable.ArrayBuffer.empty[JValue]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      stageSubmit(id) = e.stageInfo.submissionTime
        .getOrElse(System.currentTimeMillis())
      stageJob.get(id).flatMap(jobs.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.waitMs += math.max(0L,
        e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId,
          e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  private def record(qe: QueryExecution, ok: Boolean): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String): Double =
      ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
        .getOrElse(0.0)
    // the phases end before the action runs; stamp the record with the
    // last phase end so it falls inside the op that issued it
    val end = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.endTimeMs).max
    phases += JObject("t" -> JDouble(end.toDouble),
      "analysis" -> JDouble(ms("analysis")),
      "optimization" -> JDouble(ms("optimization")),
      "planning" -> JDouble(ms("planning")), "ok" -> JBool(ok))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, ok = false)

  def jobsJson: JValue = synchronized {
    JArray(jobs.values.toList.map(j => JObject(
      "id" -> JInt(j.id), "t0" -> JDouble(j.start.toDouble),
      "t1" -> JDouble((if (j.end < 0) j.start else j.end).toDouble),
      "stages" -> JInt(j.stages), "tasks" -> JInt(j.tasks),
      "run_ms" -> JLong(j.runMs), "cpu_ms" -> JDouble(j.cpuNs / 1e6),
      "gc_ms" -> JLong(j.gcMs), "wait_ms" -> JLong(j.waitMs),
      "shuffle_write" -> JLong(j.shuffleWrite),
      "shuffle_read" -> JLong(j.shuffleRead),
      "spill" -> JLong(j.spill), "input" -> JLong(j.input))))
  }

  def phasesJson: JValue = synchronized { JArray(phases.toList) }
}
