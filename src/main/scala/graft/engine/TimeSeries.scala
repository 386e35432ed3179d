package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Ordered-series operators (SURVEY.md §2.5, W1-W6): the Spark-native form of
  * the reference's pandas `diff` / `cumsum` / `iloc` / interpolation.
  *
  * Every function takes explicit partition keys. The reference's series are
  * tiny and global (one country, 188 days), so it can afford a single ordered
  * frame; at 100 TB the same semantics must run per-entity, so windows here
  * are `Window.partitionBy(keys).orderBy(order)` — one partition per entity,
  * all entities parallel, no global sort. Pass no keys only when the series
  * is genuinely global and bounded (e.g. one row per day after aggregation).
  */
object TimeSeries {

  /** Partition key for a domain-bounded global series: a constant-valued
    * expression makes the deliberate single-partition choice explicit in the
    * plan (the domain — e.g. one row per calendar day — bounds the
    * partition's size, not the data volume). The expression is anchored on a
    * real column so it is NOT foldable: Spark 4's EliminateWindowPartitions
    * would strip a bare literal and WindowExec would then warn about an
    * empty partition spec. Building the constant from the anchor is subtle:
    * `anchor.isNull * 0` folds once nullability analysis proves the anchor
    * non-nullable, and `nonNullableExpr * 0` folds outright (both caught by
    * the PLANS.md audit when the stitch window sat on an aggregate). No
    * rule simplifies `pmod(x, 1)`, which is 0 for every non-null x; the
    * coalesce covers a null anchor (and is itself stripped only when the
    * anchor is non-nullable, where it's redundant anyway). */
  def boundedGlobal(anchor: Column): Seq[Column] =
    Seq(coalesce(pmod(length(anchor.cast("string")), lit(1)), lit(0)))

  /** The anchor for [[boundedGlobal]] must be a plain value expression — a
    * `desc(...)`/`asc(...)` Column wraps a SortOrder, which cannot be cast.
    * Unwrap it so `w(Nil, Seq(desc("ts")))` anchors on `ts` itself. */
  private def anchorOf(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.unwrapSortOrder(c)

  private def w(partCols: Seq[String], order: Seq[Column]) = {
    val base =
      if (partCols.isEmpty) Window.partitionBy(boundedGlobal(anchorOf(order.head)): _*)
      else Window.partitionBy(partCols.map(col): _*)
    base.orderBy(order: _*)
  }

  /** W2 — running total (pandas `cumsum`, main.py:260-262). Decimal-exact so
    * results are order-of-evaluation independent (oracle-comparable). */
  def cumSum(c: Column, partCols: Seq[String], order: Seq[Column]): Column =
    sum(c.cast(DecimalType(38, 6)))
      .over(w(partCols, order).rowsBetween(Window.unboundedPreceding, Window.currentRow))
      .cast(DoubleType)

  /** W6 — 1-based position within the ordered partition (main.py:414-415). */
  def rowIndex(partCols: Seq[String], order: Seq[Column]): Column =
    row_number().over(w(partCols, order))

  /** Distributed GLOBAL row number — the scale-safe replacement for
    * `row_number().over(Window.orderBy(...))`, which funnels every row
    * through one task. Rows are numbered locally within `bucketCol`
    * partitions, then shifted by broadcast per-bucket prefix offsets (the
    * zipWithIndex pattern, purely declarative):
    *
    *   - `bucketCol` MUST be a prefix of the global ordering (e.g. the day
    *     of a timestamp ordered by that timestamp) so local order + bucket
    *     order = global order;
    *   - the offsets side is one row per bucket (bounded — calendar days
    *     here), aggregated with a self-join instead of a global window, so
    *     NO operator in the plan ever sees a single-partition sort.
    *
    * Adds `asCol` (long). */
  def globalRowNumber(df: DataFrame, bucketCol: Column, order: Seq[Column],
      asCol: String): DataFrame = {
    val local = df.withColumn("__bucket", bucketCol)
      .withColumn("__lrn",
        row_number().over(Window.partitionBy(col("__bucket")).orderBy(order: _*)))
    // counts derive from `local` (not `df`) so the bucket-hash exchange
    // feeding the window is identical on both subtrees and ReuseExchange
    // scans the source once instead of twice per side
    val counts = local.groupBy("__bucket").agg(count(lit(1)).as("__cnt"))
    // exclusive prefix sum over the BOUNDED counts table via the
    // non-foldable constant-key window (the boundedGlobal pattern): one
    // O(B log B) pass instead of the previous O(B^2) theta self-join,
    // which stops mattering only while bucket counts stay tiny
    val offsets = counts
      .withColumn("__offset",
        coalesce(sum(col("__cnt")).over(
          Window.partitionBy(boundedGlobal(col("__bucket")): _*)
            .orderBy("__bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bucket"), col("__offset"))
    local.join(broadcast(offsets), "__bucket")
      .withColumn(asCol, col("__offset") + col("__lrn"))
      .drop("__bucket", "__lrn", "__offset")
  }

  /** W1 at scale — lag diff over a globally-ordered series with NO
    * full-data global window. Rows lag locally inside `bucket` partitions
    * (a non-decreasing integer function of the ordering, e.g.
    * months-since-epoch of the order column); the first row of each bucket
    * takes the PREVIOUS NON-EMPTY bucket's last value from a broadcast
    * per-bucket aggregate, so gap buckets are skipped over exactly like a
    * global LAG would. The only window over the full data is per-bucket;
    * the stitch window runs on the per-bucket aggregate, whose size is
    * bounded by the calendar, not the data volume. Requires `order` unique
    * within a bucket. The first global row's delta is null (pandas `diff()`
    * leading NaN). Adds `asCol`. */
  def lagDiffStitched(df: DataFrame, c: Column, bucket: Column,
      order: Column, asCol: String): DataFrame = {
    val wb = Window.partitionBy(col("__bucket")).orderBy(order)
    val local = df.withColumn("__bucket", bucket)
      .withColumn("__lag", lag(c, 1).over(wb))
      // the stitch applies ONLY to each bucket's first row — coalescing on
      // "__lag is null" instead would fabricate a delta for a mid-bucket
      // row whose predecessor's VALUE is null (global LAG yields null there)
      .withColumn("__rn", row_number().over(wb))
    // derived from `local` (not `df`) so the bucket-hash exchange feeding
    // the window is identical on both subtrees and ReuseExchange applies;
    // the lag over buckets reaches across empty buckets by construction
    // (only non-empty buckets have a row here)
    val lasts = local.groupBy(col("__bucket"))
      .agg(max_by(c, order).as("__last"))
      .withColumn("__prev_last",
        lag(col("__last"), 1).over(
          Window.partitionBy(boundedGlobal(col("__bucket")): _*).orderBy("__bucket")))
      .select(col("__bucket"), col("__prev_last"))
    local.join(broadcast(lasts), Seq("__bucket"), "left")
      .withColumn(asCol,
        c - when(col("__rn") === 1, col("__prev_last")).otherwise(col("__lag")))
      .drop("__bucket", "__lag", "__rn", "__prev_last")
  }

  /** W4 — keep the last n rows per partition (pandas `iloc[-(n):]`,
    * main.py:652). */
  def tailSlice(df: DataFrame, n: Int, partCols: Seq[String], orderDesc: Seq[Column]): DataFrame =
    df.withColumn("__rn_desc", row_number().over(w(partCols, orderDesc)))
      .filter(col("__rn_desc") <= n)
      .drop("__rn_desc")

  /** W5 — the reference's gap-fill linear interpolation
    * (`manual_interpolate_column`, main.py:392-419), as pure built-in windows
    * (no UDF, stays inside codegen).
    *
    * The reference fills **in place** while scanning left to right, so a null
    * at position 0 becomes 0 and that 0 then acts as a real anchor for the
    * rest of the leading run: `[null,null,3]` → `[0,1.5,3]` (ramp from the
    * injected 0), not `[0,0,3]`. Interior runs are unaffected by the in-place
    * fill because a linear blend is self-consistent (filling (j,k) one row at
    * a time from already-blended neighbors lands on the same line). Semantics:
    *
    *   - first row null → 0.0, and it participates as a non-null anchor
    *   - interior null run: linear blend between previous anchor (value v_j
    *     at position j) and next *original* non-null (v_k at k) by integer
    *     row position (quirk Q6b — not date distance):
    *     v_j + (v_k - v_j) * (i-j)/(k-j)
    *   - trailing null run (no next non-null): carry last anchor forward
    *     (so an all-null partition is all 0.0)
    *
    * The reference's scan is O(n·gap) imperative Python; this plan is two
    * forward and two backward running windows — O(n) per partition, all
    * partitions parallel.
    *
    * Returns the input plus `<valueCol>_interp`.
    */
  def interpolateLinear(df: DataFrame, valueCol: String,
      partCols: Seq[String], order: Seq[Column]): DataFrame =
    interpolateLinearAll(df, Seq(valueCol), partCols, order)

  /** Multi-column form of [[interpolateLinear]]: interpolates every column in
    * `valueCols` in ONE pass — one row-number projection and one WindowExec
    * over the shared (partition, order) spec, instead of a sort per column.
    * The K12 wrangling pipeline interpolates 3 columns; at 100 TB the saved
    * per-column sorts matter. Adds `<c>_interp` per column. */
  def interpolateLinearAll(df: DataFrame, valueCols: Seq[String],
      partCols: Seq[String], order: Seq[Column]): DataFrame = {
    // Two passes: row positions first (a window function can't nest inside
    // another window's aggregate), then the forward/backward running windows
    // ordered by that position.
    val withRn = df.withColumn("__rn", row_number().over(w(partCols, order)))
    val ww = w(partCols, Seq(col("__rn")))
    val back = ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ww.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rn = col("__rn")
    val out = valueCols.foldLeft(withRn) { (acc, valueCol) =>
      val v = col(valueCol)
      // Backward anchors see the injected 0 at row 1 (the in-place
      // semantics); forward scans see only original non-nulls (rows ahead
      // are unfilled when the reference reaches them).
      val vEff = when(v.isNull && rn === 1, lit(0.0)).otherwise(v)
      val prevV = last(vEff, ignoreNulls = true).over(back)
      val prevRn = max(when(vEff.isNotNull, rn)).over(back)
      val nextV = first(v, ignoreNulls = true).over(fwd)
      val nextRn = min(when(v.isNotNull, rn)).over(fwd)
      val blend = prevV + (nextV - prevV) *
        ((rn - prevRn).cast(DoubleType) / (nextRn - prevRn).cast(DoubleType))
      val filled = when(v.isNotNull, v)
        .when(nextV.isNull, prevV) // trailing run (and all-null partition)
        .otherwise(blend)          // leading run blends from the rn=1 anchor
      acc.withColumn(s"${valueCol}_interp", filled)
    }
    out.drop("__rn")
  }
}
