package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev utility (guide §1/§7): per-JOB and per-STAGE wall breakdown of a
  * declared query — run twice, the second (warm) run is reported. Shows
  * where a multi-action query (driver loops, eager checkpoints) spends its
  * time: job count, per-stage duration, task count, shuffle bytes.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val spark = Session(Session.cores)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    case class StageRec(id: Int, name: String, tasks: Int, ms: Long,
      shufWrite: Long, shufRead: Long)
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
    val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
        stages += StageRec(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          si.numTasks, ms,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart(js.jobId) = (js.time, js.stageIds.map(_.toInt))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.remove(je.jobId).foreach { case (t0, sids) =>
          jobs += ((je.jobId, je.time - t0, sids))
        }
    }
    for (name <- args) {
      val df = SparkEntry.queries(name)(spark, dir)
      // cold run (codegen/JIT) — not reported
      df.write.format("noop").mode("overwrite").save()
      stages.clear(); jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let async listener drain
      println(f"== $name warm $wall%.2f s, ${jobs.size} jobs, ${stages.size} stages")
      val byId = stages.map(s => s.id -> s).toMap
      for ((jid, jms, sids) <- jobs.sortBy(_._1)) {
        println(f"  job $jid%3d ${jms}%6d ms stages=${sids.sorted.mkString(",")}")
        for (sid <- sids.sorted; s <- byId.get(sid))
          println(f"    stage $sid%4d ${s.ms}%6d ms tasks=${s.tasks}%3d " +
            f"sw=${s.shufWrite}%9d sr=${s.shufRead}%9d  ${s.name}")
      }
      val unattributed = stages.map(_.id).toSet -- jobs.flatMap(_._3).toSet
      if (unattributed.nonEmpty) println(s"  (stages outside jobs: $unattributed)")
    }
    spark.stop()
  }
}
