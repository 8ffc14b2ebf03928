package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Executor-side totals of one Spark job (or of a set of jobs). */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def add(o: TaskTotals): TaskTotals = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    this
  }
}

/** One Spark job as the listener saw it. Times are epoch milliseconds;
  * `site` is the user-code stack Spark records for the job's last stage.
  */
final class JobRec(val id: Int, val group: String, val site: String, val startMs: Long) {
  var endMs: Long = -1L
  val totals = new TaskTotals
}

/** SparkListener that records jobs, stages and task metrics (executor run and
  * CPU time, GC time, shuffle read and write, spill), keyed by job so that a
  * job can be attributed to the operation that ran it: by its job group when
  * the calling thread set one, otherwise by time overlap.
  */
final class Collector extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(Trace.JobGroupKey))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, group, site, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); if m != null) {
      val t = j.totals
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** All jobs recorded so far, after the listener bus has drained. */
  def snapshot(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.BusDrain(sc)
    synchronized(jobs.values.toVector)
  }

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}

object Collector {
  /** Jobs whose start falls in [fromMs, toMs]: in a closed loop with one
    * client, exactly the jobs the operation in that interval launched,
    * including those started from pools without the caller's job group.
    */
  def within(jobs: Seq[JobRec], fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  def totals(jobs: Seq[JobRec]): TaskTotals =
    jobs.foldLeft(new TaskTotals)((acc, j) => acc.add(j.totals))

  /** Milliseconds in [fromMs, toMs] during which at least one job ran. */
  def activeMs(jobs: Seq[JobRec], fromMs: Long, toMs: Long): Long = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs),
      math.min(if (j.endMs < 0) toMs else j.endMs, toMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
