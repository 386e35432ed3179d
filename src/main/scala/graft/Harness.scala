package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement core the mains share: where their input lives, which
  * queries they run, how one run is timed, and how Spark's asynchronous
  * listener bus is read. Bench, Verify, ScaleProbe, ProfileQ, StreamBench
  * and ExplainAudit make each of these decisions here and nowhere else. */
object Harness {

  /** Input directory of the mains that take no directory argument. */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The named queries in the given order, or every declared query sorted
    * by name when none is named. An unknown name fails the run before any
    * query starts, so a mistyped name cannot pass as an empty subset. */
  def select(args: Seq[String]): Seq[String] = {
    val known = SparkEntry.queries.keySet
    val unknown = args.filterNot(known)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (args.nonEmpty) args else known.toSeq.sorted
  }

  /** Builds a frame and writes it to the noop sink, which materializes
    * every row and column (a `count()` would let Catalyst prune
    * projections). Returns the wall seconds of build plus write, or what
    * either threw. */
  def timed(build: => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      build.write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case t: Throwable => Left(t) }
  }

  /** A stage as the listener bus reported it. */
  final case class Stage(id: Int, name: String, tasks: Int, ms: Long,
      shuffleWrite: Long, shuffleRead: Long)

  /** A finished job: its wall time and the ids of its stages. */
  final case class Job(id: Int, ms: Long, stageIds: Seq[Int])

  /** The stages and jobs completed between two drains; `drained` is false
    * when a drain hit its deadline, so the numbers may be short. */
  final case class Recorded(stages: Seq[Stage], jobs: Seq[Job], drained: Boolean) {
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
  }

  /** A [[StageLog]] registered on the session's listener bus. */
  def listen(spark: SparkSession): StageLog = {
    val log = new StageLog(spark)
    spark.sparkContext.addSparkListener(log)
    log
  }

  private val SentinelKey = "graft.harness.sentinel"

  /** Records every completed stage and finished job. Delivery is
    * asynchronous, so a reader first drains the bus: [[drain]] runs a
    * shuffle-free sentinel job (one result stage over a 1-element RDD) and
    * waits for that stage's completion event. The bus is FIFO, so once it
    * arrives every event of the jobs before it has been delivered too. The
    * sentinel's own stage and job are never recorded. */
  final class StageLog private[Harness] (spark: SparkSession) extends SparkListener {
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
    private val sentinelStages = mutable.Set.empty[Int]
    private var sentinelsSeen = 0L

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      if (Option(js.properties).exists(_.getProperty(SentinelKey) != null))
        sentinelStages ++= js.stageIds
      else jobStarts(js.jobId) = (js.time, js.stageIds)
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(je.jobId).foreach { case (t0, ids) =>
        jobs += Job(je.jobId, je.time - t0, ids)
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      if (sentinelStages.remove(si.stageId)) {
        sentinelsSeen += 1
        notifyAll()
      } else {
        val m = si.taskMetrics
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(-1L)
        stages += Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks, ms,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead)
      }
    }

    /** Runs the sentinel and waits up to 30 s for its stage event. Returns
      * false, and says so on stderr, when the deadline passes first. */
    def drain(): Boolean = {
      val before = synchronized(sentinelsSeen)
      val sc = spark.sparkContext
      sc.setLocalProperty(SentinelKey, "1")
      try sc.parallelize(Seq(1), 1).foreach(_ => ())
      finally sc.setLocalProperty(SentinelKey, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      synchronized {
        while (sentinelsSeen == before && System.nanoTime() < deadline)
          wait(math.max(1L, (deadline - System.nanoTime()) / 1000000))
        val ok = sentinelsSeen > before
        if (!ok) System.err.println("[harness] WARN: listener-bus drain hit " +
          "the 30s deadline without the sentinel stage; the numbers read " +
          "next may be short")
        ok
      }
    }

    /** Runs `body` between two drains and returns its result with exactly
      * the stages and jobs it completed. */
    def around[T](body: => T): (T, Recorded) = {
      val before = drain()
      synchronized { stages.clear(); jobs.clear() }
      val out = body
      val after = drain()
      (out, synchronized(Recorded(stages.toList, jobs.toList, before && after)))
    }
  }
}
