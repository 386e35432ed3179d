package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's generated-class cache holds a whole workload: building
  * and running the same queries again compiles no class. */
class CodegenCacheSpec extends SparkSpec {

  /** The benchmark's dashboard workload. */
  private val dashboard = Seq("q_topk_revenue", "q_pricing_summary",
    "q_join_broadcast_star", "q_join_shuffle", "q_dedup_groupmax", "q_setops",
    "q_rollup", "q_window_lag", "q_window_movavg", "q_row_align_join",
    "q_estimator_slopes", "q_county_series", "q_wrangle")

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runAll(): Unit =
    dashboard.foreach(q => SparkEntry.queries(q)(spark, sf).collect())

  test("a second pass over the dashboard queries compiles nothing") {
    // with AQE on, the order in which a query's stages finish can change
    // its final plan (q_row_align_join's join adds 2 new classes on some
    // runs), which is new code rather than a cache miss; AQE off fixes
    // every plan, so any compile in the second pass is an eviction
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      runAll()
      val before = compiled()
      runAll()
      assert(compiled() == before, s"second pass compiled ${compiled() - before} classes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
