package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables.t

/** Sub-plans that several query families share, each with its DuckDB
  * twin: the zero-filled daily calendar grid and the component closure.
  * The pair expansion the basket, shingle and Gram queries share is
  * [[graft.engine.Pairs]]. */
object SubPlans {

  /** Every day from the first to the last `d` of `daily`, for each distinct
    * `keys` tuple of it, left-joined back to `daily` with the `values`
    * columns zero-filled: columns `keys`, `d`, `values`. Twin of the
    * `span` → `cal` → `grid` chain; callers keep their own casts. */
  def zeroFilled(daily: DataFrame, keys: Seq[String], values: Seq[String]): DataFrame = {
    val span = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val cal = span.select(
      explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val frame =
      if (keys.isEmpty) cal
      else daily.select(keys.map(col): _*).distinct()
        .crossJoin(broadcast(cal)) // keys x calendar: broadcast-sized
    frame.join(daily, keys :+ "d", "left")
      .select(keys.map(col) ++ (col("d") +: values.map(v =>
        coalesce(col(v), lit(0L)).as(v))): _*)
  }

  /** (event_type, d, x): per-(type, day) event counts over the zero-filled
    * calendar grid. Twin of [[typeGridCtes]]. */
  def typeGrid(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    zeroFilled(daily, Seq("event_type"), Seq("cnt")).withColumnRenamed("cnt", "x")
  }

  /** `span` and `cal`: every day from the first to the last `d` of a
    * `daily` CTE. */
  val calendarCtes: String =
    """span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
      |cal AS (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      |        FROM span)""".stripMargin

  private def gridCtes(extraCols: String): String =
    s"""daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |$calendarCtes,
      |grid AS (
      |  SELECT ty.event_type, cal.d, COALESCE(daily.cnt, 0) AS x$extraCols
      |  FROM (SELECT DISTINCT event_type FROM daily) ty
      |  CROSS JOIN cal
      |  LEFT JOIN daily ON daily.event_type = ty.event_type AND daily.d = cal.d)"""
      .stripMargin

  /** DuckDB chain events → `daily` (type, day) counts → `span` → `cal` →
    * `grid` (event_type, d, x), zero-filled. */
  val typeGridCtes: String = gridCtes("")

  /** [[typeGridCtes]] with `grid` also carrying `rn`, the 1-based day
    * index per type. */
  val typeGridRnCtes: String = gridCtes(
    """,
      |         ROW_NUMBER() OVER (PARTITION BY ty.event_type
      |                            ORDER BY cal.d) AS rn""".stripMargin)

  /** DuckDB connected components over a symmetric `sym(a, b)` edge CTE:
    * `reach` closes it recursively (needs WITH RECURSIVE) and `comp` maps
    * each node `id` to its component's least node, `cluster`. */
  val closureCtes: String =
    """reach AS (
      |  SELECT a AS id, b AS r FROM sym
      |  UNION
      |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
      |comp AS (SELECT id, LEAST(id, MIN(r)) AS cluster FROM reach GROUP BY id)"""
      .stripMargin
}
