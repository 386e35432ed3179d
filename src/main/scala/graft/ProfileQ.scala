package graft

/** Dev utility (guide §1/§7): per-JOB and per-STAGE wall breakdown of a
  * declared query — run twice, the second (warm) run is reported. Shows
  * where a multi-action query (driver loops, eager checkpoints) spends its
  * time: job count, per-stage duration, task count, shuffle bytes.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = Harness.select(args.toSeq)
    val spark = Session(Session.cores)
    val log = Harness.listen(spark)
    val queries = SparkEntry.queries
    for (name <- names) {
      def build = queries(name)(spark, Harness.sfDir)
      // cold run (codegen/JIT) — not reported
      Harness.timed(build).left.foreach(throw _)
      val (run, rec) = log.around(Harness.timed(build))
      val wall = run.fold(throw _, identity)
      println(f"== $name warm $wall%.2f s, ${rec.jobs.size} jobs, ${rec.stages.size} stages")
      val byId = rec.stages.map(s => s.id -> s).toMap
      for (j <- rec.jobs.sortBy(_.id)) {
        println(f"  job ${j.id}%3d ${j.ms}%6d ms stages=${j.stageIds.sorted.mkString(",")}")
        for (sid <- j.stageIds.sorted; s <- byId.get(sid))
          println(f"    stage $sid%4d ${s.ms}%6d ms tasks=${s.tasks}%3d " +
            f"sw=${s.shuffleWrite}%9d sr=${s.shuffleRead}%9d  ${s.name.take(90)}")
      }
      val unattributed = byId.keySet -- rec.jobs.flatMap(_.stageIds)
      if (unattributed.nonEmpty) println(s"  (stages outside jobs: $unattributed)")
    }
    spark.stop()
  }
}
