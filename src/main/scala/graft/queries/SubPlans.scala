package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables.t
import graft.functions.Text

/** Sub-plans that several query families share, each with its DuckDB
  * twin: the zero-filled daily calendar grid, the component closure, the
  * exact-cosine top-k tail, token-budget packing, the token-set overlap
  * core and the document quality features. The pair expansion the basket,
  * shingle and Gram queries share is [[graft.engine.Pairs]]; the cosine
  * top-k operator itself is [[graft.engine.CosineTopK]]. */
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

  /** Sequential-fold cosine between `q.qv` and `e.v`, the IEEE evaluation
    * tree [[graft.functions.Vectors.cosineFromNorms]] mirrors. */
  val CosineSql: String =
    """list_reduce(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2]), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y)))""".stripMargin

  /** `scored`: the `cols` of each candidate pair of `FROM $cands` other
    * than the query itself, with its cosine; `ranked`: those rows ranked
    * per query by (cos desc, vec_id) as `rk`. Twin of
    * [[graft.engine.CosineTopK]]; `cands` ends in `WHERE` or `AND`. */
  def rankedCtes(cands: String, cols: String = "q.qid, e.vec_id"): String =
    s"""scored AS (
      |  SELECT $cols,
      |    $CosineSql AS cos
      |  FROM $cands e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
      |  FROM scored)""".stripMargin

  /** [[rankedCtes]] and its top `k` per query, ordered. */
  def cosineTopKSql(cands: String, k: Int): String =
    s"""${rankedCtes(cands)}
      |SELECT qid, vec_id, cos, rk FROM ranked
      |WHERE rk <= $k
      |ORDER BY qid, rk""".stripMargin

  /** (doc_id, bucket, shard, toks, cum_tokens): each document of `docs`
    * (doc_id, text) packed into its md5 bucket's token-budget shards, by
    * the cumulative token count per bucket in doc_id order. */
  def packShards(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"),
        Text.packBucket(col("doc_id")).as("bucket"),
        Text.tokenCount(col("text")).cast("long").as("toks"))
      .withColumn("cum_tokens", sum(col("toks")).over(w))
      // `div` (not `/`): integer floor division on both engines — plain `/`
      // is a double divide in Spark and its BIGINT cast would round in
      // DuckDB, truncate in Spark
      .withColumn("shard",
        col("bucket") * Text.PackShardStride +
          expr(s"(cum_tokens - toks) div ${Text.PackBudget}"))
      .select(col("doc_id"), col("bucket"), col("shard"), col("toks"), col("cum_tokens"))
  }
}
