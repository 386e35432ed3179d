package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The mains share one harness core ([[graft.Harness]]): one query
  * selector, one timed run, one listener with one drain, one input-dir
  * default. The source guards keep a second copy from growing back; the
  * runtime cases pin what the mains rely on. */
class HarnessSpec extends SparkSpec {

  private val main: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally s.close()
  }
  private def holding(word: String): Seq[String] =
    main.collect { case (p, text) if text.contains(word) => p.toString }

  test("src/main holds one SparkListener class, in Harness") {
    val declared = main.map { case (p, text) =>
      p.toString -> "extends SparkListener".r.findAllMatchIn(text).size
    }.filter(_._2 > 0)
    assert(declared == Seq("src/main/scala/graft/Harness.scala" -> 1))
    assert(holding("new SparkListener").isEmpty)
  }

  test("no main sleeps to wait for listener delivery") {
    assert(holding("Thread.sleep").isEmpty)
  }

  test("the SPARK_GRAFT_SF_DIR default lives in Harness alone") {
    assert(holding("SPARK_GRAFT_SF_DIR") == Seq("src/main/scala/graft/Harness.scala"))
  }

  test("select: named queries in order, all sorted by default, unknown names fail") {
    assert(Harness.select(Seq("q_pagerank", "q_topk_revenue")) ==
      Seq("q_pagerank", "q_topk_revenue"))
    val all = Harness.select(Nil)
    assert(all == queries.Registry.all.map(_.name).sorted)
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("q_topk_revenue", "q_nope")))
    assert(e.getMessage.contains("q_nope") && !e.getMessage.contains("q_topk_revenue"))
  }

  test("timed: wall seconds of a run, or the error its build threw") {
    val ok = Harness.timed(spark.range(10).toDF())
    assert(ok.exists(_ >= 0.0), s"$ok")
    val boom = new IllegalStateException("boom")
    assert(Harness.timed(throw boom) == Left(boom))
  }

  test("around: the body's stages and jobs, without the sentinel's") {
    val log = Harness.listen(spark)
    try {
      val (run, rec) = log.around(Harness.timed(
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()))
      assert(run.isRight, s"$run")
      assert(rec.drained)
      assert(rec.shuffleWrite > 0 && rec.shuffleRead > 0, s"$rec")
      assert(rec.jobs.nonEmpty)
      assert(!rec.stages.exists(_.name.startsWith("foreach at Harness.scala")), s"$rec")
      assert(rec.stages.map(_.id).toSet.subsetOf(rec.jobs.flatMap(_.stageIds).toSet))
      // nothing ran: nothing recorded, the drains' sentinels included
      val (_, idle) = log.around(())
      assert(idle.stages.isEmpty && idle.jobs.isEmpty, s"$idle")
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
