package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * Every Spark job is attributed to the benchmark span that was open when
  * it started, through the local property [[Tracer.SpanKey]] the benchmark
  * sets around its own calls (a builder call, the plan step, the collect).
  * Stages inherit their job's span and tasks their stage's. Listener events
  * arrive asynchronously, so [[drain]] runs a sentinel job and waits for
  * its end event before a span's numbers are read.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class JobRec(val span: String, val start: Long) {
    var end = 0L
    var stages: Seq[Int] = Nil
  }
  final class Agg {
    var jobs, stages, stagesSkipped, tasks, emptyTasks = 0L
    var runMs, cpuNs, gcMs, shufW, shufR, spill, peakMem = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val submitted = mutable.HashSet.empty[Int]
  private val aggs = mutable.HashMap.empty[String, Agg]
  private val phases = mutable.HashMap.empty[QueryExecution, Map[String, (Long, Long)]]
  private val sentinelJobs = mutable.HashSet.empty[Int]
  /** Finished jobs as (span, job id, start ms, end ms, stages) and stages
    * as (job id, stage id, start ms, end ms, tasks). */
  val jobLog = mutable.ArrayBuffer.empty[(String, Int, Long, Long, Int)]
  val stageLog = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var sentinelDone = -1L

  def agg(span: String): Agg = synchronized(aggs.getOrElseUpdate(span, new Agg))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    if (span == Sentinel) sentinelJobs += e.jobId
    else if (span != null) {
      val j = new JobRec(span, e.time)
      j.stages = e.stageInfos.map(_.stageId)
      jobs(e.jobId) = j
      j.stages.foreach { st => stageSpan(st) = span; stageJob.getOrElseUpdate(st, e.jobId) }
      agg(span).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized {
      jobs.remove(e.jobId).foreach { j =>
        j.end = e.time
        val a = agg(j.span)
        a.jobIntervals += ((j.start, j.end))
        a.stages += j.stages.size
        a.stagesSkipped += j.stages.count(s => !submitted.contains(s))
        jobLog += ((j.span, e.jobId, j.start, j.end, j.stages.size))
        j.stages.foreach(submitted.remove)
      }
    }
    if (synchronized(sentinelJobs.remove(e.jobId))) sentinelDone = e.jobId.toLong
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { job =>
      stageLog += ((job, i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val a = agg(span)
      a.tasks += 1
      a.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          a.emptyTasks += 1
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      phases(qe) = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Catalyst tracker phases of `qe`, once its listener event arrived;
    * forgets the phases of every other execution seen so far. */
  def phasesOf(qe: QueryExecution): Map[String, (Long, Long)] = synchronized {
    val p = phases.getOrElse(qe, Map.empty[String, (Long, Long)])
    phases.clear()
    p
  }

  /** Block until every event posted before this call has been delivered. */
  def drain(): Unit = {
    sc.setLocalProperty(SpanKey, Sentinel)
    val id = sc.submitJob[Int, Unit, Unit](sc.parallelize(Seq(1), 1),
      (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
    scala.concurrent.Await.ready(id, scala.concurrent.duration.Duration.Inf)
    sc.setLocalProperty(SpanKey, null)
    val jobId = id.jobIds.head
    val deadline = System.currentTimeMillis() + 30000
    while (sentinelDone < jobId && System.currentTimeMillis() < deadline) Thread.sleep(1)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Sentinel = "sentinel"

  /** Total length of the union of [start, end) intervals. */
  def unionMs(xs: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
