package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import graft.queries.RelationalQueries

/** The grand-total grouping set `()` of q_cube and q_grouping_sets: on an
  * empty table SQL still yields its one row, keys NULL (reported 'ALL'),
  * count 0 and sum NULL, as the DuckDB oracles do. */
class GroupingSetsSpec extends SparkSpec {

  private def emptyTable(name: String): String = {
    val d = Files.createTempDirectory(s"graft-empty-$name").toString
    spark.read.parquet(s"$sf/$name.parquet").limit(0)
      .write.parquet(s"$d/$name.parquet")
    d
  }

  test("cube over an empty orders table keeps the grand-total row") {
    val r = RelationalQueries.cubeAgg.build(spark, emptyTable("orders")).collect()
    assert(r.toSeq == Seq(Row("ALL", "ALL", 0L, null)), r.mkString(", "))
  }

  test("grouping sets over an empty lineitem keep the grand-total row") {
    val r = RelationalQueries.groupingSetsAgg.build(spark, emptyTable("lineitem")).collect()
    assert(r.toSeq == Seq(Row("ALL", "ALL", 1L, 1L, 0L, null)), r.mkString(", "))
  }
}
