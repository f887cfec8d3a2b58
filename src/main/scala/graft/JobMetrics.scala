package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerBusBridge

import scala.collection.mutable

/** The one job-metrics path: a listener that keeps one row per finished
  * Spark job — its id, job group, wall time, tasks run, and the summed
  * shuffle bytes and executor run time of its stages' tasks plus their
  * peak execution memory. Bench sums a query's rows; Profile prints them.
  *
  * The listener bus is asynchronous, so [[jobs]] first [[drain]]s it: every
  * job that finished before the call is then counted exactly, with no
  * polling. As in Ballista, where each `TaskStatus` carries its task's
  * metrics to the scheduler, tasks report through this one path.
  */
final class JobMetrics private (sc: SparkContext) extends SparkListener {
  import JobMetrics.Job

  private final class Open(val id: Int, val group: String, val startMs: Long) {
    var tasks = 0; var shuffleRead = 0L; var shuffleWrite = 0L
    var peakTaskMem = 0L; var runMs = 0L
  }
  private val open = mutable.Map.empty[Int, Open]
  // a stage shared by two jobs counts toward the first that listed it
  private val stageJob = mutable.Map.empty[Int, Open]
  private val done = mutable.ArrayBuffer.empty[Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val job = new Open(e.jobId, group.getOrElse(""), e.time)
    open(e.jobId) = job
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = job)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId)) {
      job.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.peakTaskMem = math.max(job.peakTaskMem, m.peakExecutionMemory)
        job.runMs += m.executorRunTime
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (j <- open.remove(e.jobId)) {
      stageJob.filterInPlace((_, owner) => owner ne j)
      done += Job(j.id, j.group, (e.time - j.startMs) / 1e3, j.tasks, j.shuffleRead,
        j.shuffleWrite, j.peakTaskMem, j.runMs)
    }
  }

  /** Blocks until every listener event posted so far has been delivered. */
  def drain(): Unit = ListenerBusBridge.drain(sc)

  /** Forgets the finished jobs; a job still running stays counted. */
  def reset(): Unit = synchronized(done.clear())

  /** Jobs finished since the last [[reset]], in job-id order; only those of
    * job group `group` when one is given. */
  def jobs(group: Option[String] = None): Seq[Job] = {
    drain()
    synchronized(done.filter(j => group.forall(_ == j.group)).sortBy(_.id).toSeq)
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object JobMetrics {

  /** One finished job. `sec` is job start to job end on the scheduler's
    * clock; `peakTaskMem` is the largest peak execution memory of any one
    * task; `runMs` sums the tasks' executor run time. */
  final case class Job(id: Int, group: String, sec: Double, tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, peakTaskMem: Long, runMs: Long)

  def attach(sc: SparkContext): JobMetrics = {
    val m = new JobMetrics(sc)
    sc.addSparkListener(m)
    m
  }
}
