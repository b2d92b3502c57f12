package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it, with its tasks' metrics summed.
  * `desc` is the call site of the SQL execution that ran it, e.g.
  * "count at NewDocuments.scala:178"; `unit` is the benchmark's own
  * label (a query name) carried as a local property.
  */
final class JobRec(val id: Int, val start: Long, val exec: Option[Long],
    val unit: Option[String]) {
  var end: Long = start
  var desc: String = ""
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var maxTaskMs = 0L
}

/** Listener that records job spans and per-job task metrics. Spark calls
  * it from one bus thread; the harness reads it after draining the bus.
  */
class SparkProbe extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val execDesc = mutable.HashMap[Long, String]()
  private val execRoot = mutable.HashMap[Long, Long]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execDesc(e.executionId) = e.description
        e.rootExecutionId.foreach(r => execRoot(e.executionId) = r)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rec = new JobRec(j.jobId, j.time,
      prop("spark.sql.execution.id").map(_.toLong), prop("perfbench.unit"))
    rec.desc = rec.exec
      .flatMap(e => execDesc.get(execRoot.getOrElse(e, e)))
      .getOrElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    jobs(j.jobId) = rec
    j.stageIds.foreach(s => stageJob(s) = rec)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(s.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(t.stageId).foreach { rec =>
      rec.tasks += 1
      rec.maxTaskMs = math.max(rec.maxTaskMs, t.taskInfo.duration)
      Option(t.taskMetrics).foreach { m =>
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.deserMs += m.executorDeserializeTime
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The jobs seen since the last call; the caller drains the bus first. */
  def take(): Seq[JobRec] = synchronized {
    val out = jobs.values.toSeq
    jobs.clear()
    stageJob.clear()
    out
  }
}

/** Sums of a set of jobs, in the units the benchmark reports. */
object JobStats {
  def apply(jobs: Seq[JobRec], wallS: Double, slots: Int,
      prefix: String): Map[String, Double] = {
    val runS = jobs.map(_.runMs).sum / 1e3
    Map(
      s"$prefix.jobs" -> jobs.size.toDouble,
      s"$prefix.stages" -> jobs.map(_.stages).sum.toDouble,
      s"$prefix.tasks" -> jobs.map(_.tasks).sum.toDouble,
      s"$prefix.exec_run_s" -> runS,
      s"$prefix.exec_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      s"$prefix.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      s"$prefix.deser_s" -> jobs.map(_.deserMs).sum / 1e3,
      s"$prefix.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / 1e6,
      s"$prefix.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / 1e6,
      s"$prefix.spill_mb" -> jobs.map(_.spill).sum / 1e6,
      s"$prefix.max_task_s" ->
        (if (jobs.isEmpty) 0.0 else jobs.map(_.maxTaskMs).max / 1e3),
      s"$prefix.slot_idle_s" -> (wallS * slots - runS))
  }
}
