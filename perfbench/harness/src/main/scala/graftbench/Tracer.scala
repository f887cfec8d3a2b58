package graftbench

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal

/** In-memory span recorder for the traced run, fed from outside the program:
  * the harness marks its own calls (session, pass, query, construct,
  * execute), and Spark's public listener APIs supply the rest —
  * `plan.<phase>` spans from each QueryExecution's planning tracker, and
  * `job` and `stage` spans from the scheduler events.
  *
  * A job's parent is the construct or execute span that was open on the
  * submitting thread (carried as a local property, which Spark copies onto
  * every job the query starts); a stage's parent is the first job that
  * listed it. Plan spans carry no parent: the reader places them by time.
  * Each stage span carries its tasks' metrics summed, and the merged
  * intervals during which at least one of its tasks ran.
  *
  * Written as one JSON object per line: id, name, parent, qid, start_ms,
  * end_ms, and name-specific attributes.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.{JobRec, StageRec}

  private val SpanProp = "graftbench.span"
  private val sc = spark.sparkContext
  private val lines = mutable.ArrayBuffer.empty[String]

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMem = 0L
    var spillDisk = 0L; var inBytes = 0L; var outBytes = 0L; var outRecords = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val jobEnds = mutable.Map.empty[Int, (Long, Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), StageRec]
  private val aggs = mutable.Map.empty[(Int, Int), StageAgg]

  /** Marks `id` as the span open on this thread ("" for none). */
  def enter(id: String): Unit = sc.setLocalProperty(SpanProp, if (id.isEmpty) null else id)

  def span(id: String, name: String, parent: Option[String], qid: String,
      start: Double, end: Double, attrs: String = ""): Unit = synchronized {
    lines += s"""{"id":${Json.str(id)},"name":${Json.str(name)},"parent":${parent.map(Json.str).getOrElse("null")},""" +
      s""""qid":${Json.str(qid)},"start_ms":$start,"end_ms":$end${if (attrs.isEmpty) "" else "," + attrs}}"""
  }

  private def qidOf(parent: Option[String]): String =
    parent.map(p => p.take(p.lastIndexOf('.'))).getOrElse("")

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      val resultStage = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = JobRec(parent, e.time, resultStage)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnds(e.jobId) = (e.time, e.jobResult == JobSucceeded)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages((i.stageId, i.attemptNumber())) = StageRec(i.name, s, c, i.failureReason.isDefined)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      a.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.spillDisk += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten; a.outRecords += m.outputMetrics.recordsWritten
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planSpans(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planSpans(funcName, qe)
  })

  private var planSeq = 0
  private def planSpans(funcName: String, qe: QueryExecution): Unit = {
    val exchanges = try countExchanges(qe.executedPlan) catch { case NonFatal(_) => -1 }
    val n = synchronized { planSeq += 1; planSeq }
    qe.tracker.phases.foreach { case (phase, s) =>
      span(s"plan$n.$phase", s"plan.$phase", None, "", s.startTimeMs.toDouble, s.endTimeMs.toDouble,
        s""""func":${Json.str(funcName)},"exchanges":$exchanges""")
    }
  }

  /** Exchanges in the final plan: the AQE-final plan, through query stages
    * and subqueries. Reused exchanges are not counted again. */
  private def countExchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = {
      val own = p match { case _: Exchange => 1; case _ => 0 }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => Nil
      }
      own + (p.children ++ inner ++ p.subqueries).map(walk).sum
    }
    walk(plan)
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = GraftBenchBus.drain(sc)

  def write(path: Path): Unit = {
    drain()
    synchronized {
      for ((id, j) <- jobs) {
        val (end, ok) = jobEnds.getOrElse(id, (j.start, false))
        span(s"job$id", "job", j.parent, qidOf(j.parent), j.start.toDouble, end.toDouble,
          s""""stage_name":${Json.str(j.stageName)},"ok":$ok""")
      }
      for (((sid, att), st) <- stages) {
        val a = aggs.getOrElse((sid, att), new StageAgg)
        val parent = stageJob.get(sid).map(j => s"job$j")
        val busy = merge(a.busy.toSeq).map { case (s, e) => s"[$s,$e]" }.mkString("[", ",", "]")
        span(s"stage$sid.$att", "stage", parent, parent.flatMap(p => jobs.get(p.drop(3).toInt))
          .map(j => qidOf(j.parent)).getOrElse(""), st.start.toDouble, st.end.toDouble,
          s""""stage_name":${Json.str(st.name)},"failed":${st.failed},"tasks":${a.tasks},""" +
            s""""run_ms":${a.runMs},"cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},"peak_mem":${a.peakMem},""" +
            s""""spill_disk":${a.spillDisk},"in_bytes":${a.inBytes},"out_bytes":${a.outBytes},""" +
            s""""out_records":${a.outRecords},"sh_write":${a.shWrite},"sh_read":${a.shRead},""" +
            s""""fetch_wait_ms":${a.fetchWaitMs},"busy":$busy""")
      }
      Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  private def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse
}

object Tracer {
  private final case class JobRec(parent: Option[String], start: Long, stageName: String)
  private final case class StageRec(name: String, start: Long, end: Long, failed: Boolean)
}
