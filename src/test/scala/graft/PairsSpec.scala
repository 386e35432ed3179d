package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

import graft.engine.Pairs
import graft.queries.GraphQueries

/** Pins [[graft.engine.Pairs.upperTriangle]] against a brute-force pair
  * enumeration, and keeps the pair expansion on its codegen'd generators:
  * no lambda in the basket query's plan, no nested-lambda copy in the
  * sources. */
class PairsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val arrays: Seq[Seq[java.lang.Long]] = Seq(
    Seq(),                   // empty
    Seq(7L),                 // single element
    null,                    // NULL array
    Seq(1L, null, 3L),       // NULL element
    Seq(2L, 2L, 5L, 5L),     // duplicates
    Seq(1L, 2L, 3L, 4L, 6L))

  private def frame = spark.createDataFrame(
    arrays.zipWithIndex.map { case (a, id) =>
      Row(id, if (a == null) null else a.asJava) }.asJava,
    StructType(Seq(StructField("id", IntegerType),
      StructField("arr", ArrayType(LongType, containsNull = true)))))

  private def brute(diagonal: Boolean): Seq[String] =
    (for {
      (a, id) <- arrays.zipWithIndex if a != null
      i <- a.indices
      j <- a.indices if j > i || (diagonal && j == i)
    } yield s"$id,$i,${a(i)},$j,${a(j)}").sorted

  for (diagonal <- Seq(false, true))
    test(s"upper-triangle pairs match a brute-force enumeration (diagonal = $diagonal)") {
      val out = Pairs.upperTriangle(frame, "arr", diagonal)
      assert(out.columns.toSeq == Seq("id", "arr", "i", "x", "j", "y"))
      val got = out.select("id", "i", "x", "j", "y").collect()
        .map(r => r.toSeq.mkString(",")).toSeq.sorted
      assert(got == brute(diagonal))
    }

  test("q_basket_rules expands pairs codegen'd: no lambda, no CodegenFallback") {
    val df = GraphQueries.basketRules.build(spark, sf)
    df.collect()
    val bad = flatMap(df.queryExecution.executedPlan)(_.expressions)
      .flatMap(_.collect {
        case e: HigherOrderFunction => e
        case e: CodegenFallback => e
      })
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no nested-lambda pair expansion is left in the sources") {
    val s = Files.walk(Paths.get("src/main/scala"))
    val hits =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("flatten(transform("))
        .map(_.toString).toList
      finally s.close()
    assert(hits.isEmpty, hits)
  }
}
