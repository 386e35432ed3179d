package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Each shared sub-plan is written once under src/main: the exact-cosine
  * rank window and the query- and corpus-vector norm projections
  * ([[graft.engine.CosineTopK]]), its DuckDB `ranked` tail
  * ([[graft.queries.SubPlans.rankedCtes]]), the hyperplane sign-bit SQL
  * ([[graft.functions.Vectors.planeBucketSql]]), the HLL rank ladder
  * ([[graft.functions.Sketch.HllRankSql]]) and the token-budget shard id
  * ([[graft.queries.SubPlans.packShards]]). Scans the sources; needs no
  * SparkSession. */
class SharedSubPlansSpec extends AnyFunSuite {
  private val main: Seq[String] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(Files.readString).toList
    finally s.close()
  }

  private def occurrences(pattern: String): Int =
    main.map(pattern.r.findAllMatchIn(_).size).sum

  for ((what, pattern) <- Seq(
      "the ANN rank window" ->
        java.util.regex.Pattern.quote("""Window.partitionBy("qid").orderBy(desc("cos")"""),
      "the oracle ranked tail" ->
        java.util.regex.Pattern.quote(
          "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)"),
      "the sign-bit list_zip template" -> """list_zip\([^,()]+, \[\$arr\]\)""",
      "the HLL rank ladder" -> java.util.regex.Pattern.quote("WHEN w >= "),
      "the shard id" -> java.util.regex.Pattern.quote("PackShardStride +"),
      "the query-vector norm" ->
        java.util.regex.Pattern.quote("""normNative(col("qv"))"""),
      "the corpus-vector norm" ->
        java.util.regex.Pattern.quote("""normNative(col("v"))""")))
    test(s"$what occurs once under src/main") {
      assert(occurrences(pattern) == 1)
    }
}
