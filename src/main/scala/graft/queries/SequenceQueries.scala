package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det.dsum
import graft.engine.Tables.t
import graft.queries.SubPlans.{typeGrid, typeGridCtes, typeGridRnCtes}

/** Event-SEQUENCE analytics over `events` — the order-sensitive operators a
  * behavioral/training-sequence pipeline needs beyond per-window aggregates:
  * Markov transition statistics, OHLC downsampling, and last-touch
  * attribution. Engine-own surface (SURVEY §7.5 spirit; the reference is
  * batch-relational only).
  *
  * All three run per-user/per-window with bounded frames or single-lag
  * windows — partition-local sorts, never a global one — and every derived
  * metric is either an exact value pick (min_by/max_by), an integer, or a
  * Det decimal sum, so the oracles hash-match.
  */
/** Daily input row for the Holt fold (one per (type, calendar day)). */
final case class HwIn(event_type: String, d: java.sql.Date, x: Long)

/** One smoothed day: level/trend state plus the one-step-ahead forecast
  * this state implies for the NEXT day. */
final case class HwOut(event_type: String, d: java.sql.Date, x: Long,
    level_micro: Long, trend_micro: Long, forecast_next_micro: Long)

/** One Holt-Winters day: level/trend/seasonal state plus the one-step
  * forecast (level + trend + the seasonal that applies tomorrow). */
final case class HwsOut(event_type: String, d: java.sql.Date, x: Long,
    level_micro: Long, trend_micro: Long, seasonal_micro: Long,
    forecast_next_micro: Long)

object SequenceQueries {

  /** MARKOV TRANSITION MATRIX — counts and exact-ppm probabilities of each
    * (previous event_type -> next event_type) transition within a user's
    * timeline: the first-order sequence statistics behind session modeling
    * and next-event prediction baselines.
    *
    * Shape: one `lag` window per user (partition-local sort on the
    * microsecond timestamp + unique event_id tiebreak), then a 25-row
    * aggregate; the row-count denominator joins back by BROADCAST. */
  val eventTransitions: Q = Q(
    "q_event_transitions",
    """WITH s AS (
      |  SELECT user_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS prev
      |  FROM events),
      |tr AS (SELECT prev, event_type AS next, COUNT(*) AS n
      |       FROM s WHERE prev IS NOT NULL GROUP BY prev, event_type),
      |tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS n_out FROM tr GROUP BY prev)
      |SELECT tr.prev, tr.next, tr.n, o.n_out,
      |       tr.n * 1000000 // o.n_out AS prob_ppm
      |FROM tr JOIN tot o ON o.prev = tr.prev
      |ORDER BY tr.prev, tr.next""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val seq = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev"))
      .filter(col("prev").isNotNull)
    val tr = seq.groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("prev").as("tprev"))
      .agg(sum(col("n")).as("n_out"))
    tr.join(broadcast(tot), col("prev") === col("tprev"))
      .select(col("prev"), col("next"), col("n"), col("n_out"),
        expr("n * 1000000 DIV n_out").as("prob_ppm"))
      .orderBy("prev", "next")
  }

  /** OHLC DOWNSAMPLING — 15-minute tumbling bars per event_type with
    * open/high/low/close/volume, the classic telemetry/markets resampling
    * operator. Open and close are deterministic VALUE PICKS via
    * min_by/max_by on the unique event_id (no window sort at all); the
    * whole bar is ONE map-side-combined hash aggregation, the same shape
    * as q_window_tumbling — linear at any scale. */
  val ohlcBars: Q = Q(
    "q_ohlc_bars",
    """WITH w AS (SELECT event_type,
      |                  ts - to_microseconds(epoch_us(ts) % 900000000) AS wstart,
      |                  value, event_id
      |           FROM events)
      |SELECT wstart, event_type, COUNT(*) AS n_events,
      |       min_by(value, event_id) AS open,
      |       MAX(value) AS high, MIN(value) AS low,
      |       max_by(value, event_id) AS close,
      |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM w GROUP BY wstart, event_type
      |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        dsum(col("value")).as("total"))
      .select(col("w.start").as("wstart"), col("event_type"),
        col("n_events"), col("open"), col("high"), col("low"), col("close"),
        col("total"))
      .orderBy("wstart", "event_type")
  }

  /** LAST-TOUCH ATTRIBUTION — attach to each purchase the user's most recent
    * preceding view/click within a 2-hour window: the marketing/causal
    * primitive. Runs as the SAME union-and-running-window stream-merge the
    * engine's as-of join uses (engine/AsOf.scala — no inequality join, no
    * per-probe scan): touches and purchases union into one per-user
    * timeline, a `last(ignoreNulls)` window carries the latest touch
    * struct forward, and the tolerance is an exact integer microsecond
    * comparison applied afterward. Ties (same-microsecond touches) break
    * by the struct order (ts, event_id) — deterministic.
    *
    * Shape at 100 TB: one shuffle on user_id, partition-local sort,
    * bounded state — the merge never materializes the touch×purchase
    * product. */
  val lastTouchAttribution: Q = Q(
    "q_attribution",
    """WITH u AS (
      |  SELECT user_id, ts, 1 AS probe, event_id, value,
      |         CAST(NULL AS STRUCT(tts TIMESTAMP, tid BIGINT, ttype VARCHAR)) AS tv
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0, NULL, NULL,
      |         struct_pack(tts := ts, tid := event_id, ttype := event_type)
      |  FROM events WHERE event_type IN ('view', 'click')),
      |w AS (SELECT *, LAST_VALUE(tv IGNORE NULLS) OVER
      |         (PARTITION BY user_id ORDER BY ts, probe, tv
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |      FROM u),
      |res AS (SELECT event_id AS purchase_id, user_id, value AS purchase_value,
      |               m.tid AS raw_tid, m.ttype AS raw_ttype,
      |               epoch_us(ts) - epoch_us(m.tts) AS gap_us
      |        FROM w WHERE probe = 1)
      |SELECT purchase_id, user_id, purchase_value,
      |       CASE WHEN gap_us <= 7200000000 THEN raw_tid END AS touch_id,
      |       CASE WHEN gap_us <= 7200000000 THEN raw_ttype END AS touch_type,
      |       CASE WHEN gap_us <= 7200000000 THEN gap_us END AS gap_us,
      |       COALESCE(gap_us <= 7200000000, FALSE) AS attributed
      |FROM res ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val tvType = "struct<tts:timestamp,tid:bigint,ttype:string>"
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("probe"),
        col("event_id"), col("value"), lit(null).cast(tvType).as("tv"))
    val refs = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"), lit(0).as("probe"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("double").as("value"),
        struct(col("ts").as("tts"), col("event_id").as("tid"),
          col("event_type").as("ttype")).as("tv"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("probe"), col("tv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val res = probes.unionAll(refs)
      .withColumn("m", last(col("tv"), ignoreNulls = true).over(w))
      .filter(col("probe") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("value").as("purchase_value"),
        col("m.tid").as("raw_tid"), col("m.ttype").as("raw_ttype"),
        (unix_micros(col("ts")) - unix_micros(col("m.tts"))).as("gap_raw"))
    val in = col("gap_raw") <= 7200000000L
    res.select(col("purchase_id"), col("user_id"), col("purchase_value"),
        when(in, col("raw_tid")).as("touch_id"),
        when(in, col("raw_ttype")).as("touch_type"),
        when(in, col("gap_raw")).as("gap_us"),
        coalesce(in, lit(false)).as("attributed"))
      .orderBy("purchase_id")
  }

  /** FUNNEL CONVERSION TIME — the latency distribution between a user's
    * first `view` and their first `purchase` strictly after it: the
    * time-to-convert metric that prices a funnel. Gaps are exact integer
    * microseconds; the percentiles interpolate over integers (the
    * q_length_quantiles precedent). Per-user MIN aggregations + one keyed
    * join — no window, no per-user sort, the q_event_funnel shape. */
  val conversionTime: Q = Q(
    "q_conversion_time",
    """WITH p AS (SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |q AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t1
      |      FROM events e JOIN p ON p.user_id = e.user_id
      |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > p.t0
      |      GROUP BY e.user_id),
      |d AS (SELECT q.user_id, q.t1 - p.t0 AS dt_us
      |      FROM q JOIN p ON p.user_id = q.user_id)
      |SELECT COUNT(*) AS n_converted, CAST(MIN(dt_us) AS BIGINT) AS min_us,
      |       quantile_cont(dt_us, 0.5) AS p50_us,
      |       quantile_cont(dt_us, 0.9) AS p90_us,
      |       CAST(MAX(dt_us) AS BIGINT) AS max_us
      |FROM d""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val p = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t0"))
    val q = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("quid"), unix_micros(col("ts")).as("tp"))
      .join(p, col("quid") === col("user_id"))
      .filter(col("tp") > col("t0"))
      .groupBy(col("quid")).agg(min(col("tp")).as("t1"), min(col("t0")).as("t0"))
    q.select((col("t1") - col("t0")).as("dt_us"))
      .agg(count(lit(1)).as("n_converted"), min(col("dt_us")).as("min_us"),
        percentile(col("dt_us"), lit(0.5)).as("p50_us"),
        percentile(col("dt_us"), lit(0.9)).as("p90_us"),
        max(col("dt_us")).as("max_us"))
  }

  /** CUSUM CHANGEPOINT — per event_type, the day where the cumulative
    * deviation of the daily value total from its mean peaks: the
    * binary-segmentation statistic argmax_t |T*S_t - t*X| (S_t = running
    * sum, X = total, T = day count — the mean-multiplied form keeps
    * EVERYTHING integer; a float mean would smear the argmax between
    * engines). The argmax resolves by max-join + earliest-day tie-break,
    * never a packed sort key.
    *
    * Shape at 100 TB: the raw stream collapses to one row per (type,
    * day) FIRST (map-side combined), so the window runs over day-count
    * rows per type — bounded by the calendar, not the data. */
  val cusumChangepoint: Q = Q(
    "q_cusum_changepoint",
    """WITH daily AS (
      |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY event_type, day),
      |tot AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS xx,
      |               COUNT(*) AS tt FROM daily GROUP BY event_type),
      |c AS (SELECT d.event_type, d.day,
      |             CAST(SUM(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS cs,
      |             ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t,
      |             tot.xx, tot.tt
      |      FROM daily d JOIN tot ON tot.event_type = d.event_type),
      |dev AS (SELECT event_type, day, ABS(tt * cs - t * xx) AS dv, tt FROM c),
      |m AS (SELECT event_type, MAX(dv) AS max_dev FROM dev GROUP BY event_type)
      |SELECT d.event_type, CAST(MIN(d.day) AS BIGINT) AS change_day,
      |       m.max_dev, CAST(MIN(d.tt) AS BIGINT) AS n_days
      |FROM dev d JOIN m ON m.event_type = d.event_type AND d.dv = m.max_dev
      |GROUP BY d.event_type, m.max_dev
      |ORDER BY d.event_type""".stripMargin) { (s, dir) =>
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
    val tot = daily.groupBy(col("event_type").as("ttype"))
      .agg(sum(col("x")).as("xx"), count(lit(1)).as("tt"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val dev = daily
      .withColumn("cs", sum(col("x")).over(w))
      .withColumn("t", row_number().over(w))
      .join(broadcast(tot), col("event_type") === col("ttype"))
      .select(col("event_type"), col("day"), col("tt"),
        abs(col("tt") * col("cs") - col("t") * col("xx")).as("dv"))
    val m = dev.groupBy(col("event_type").as("mtype"))
      .agg(max(col("dv")).as("max_dev"))
    dev.join(broadcast(m),
        col("event_type") === col("mtype") && col("dv") === col("max_dev"))
      .groupBy(col("event_type"), col("max_dev"))
      .agg(min(col("day")).as("change_day"), min(col("tt")).as("n_days"))
      .select(col("event_type"), col("change_day"), col("max_dev"),
        col("n_days"))
      .orderBy("event_type")
  }

  private val EventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** PIVOT (long -> wide) — per-user event counts spread into one column
    * per event type via Spark's pivot operator with an EXPLICIT value
    * list (an implicit list would cost a distinct-collect pass and make
    * the schema data-dependent — never acceptable at scale). The DuckDB
    * mirror is the equivalent conditional aggregation, so the pivot
    * rewrite itself is what gets hash-checked. One hash aggregation. */
  val pivotEvents: Q = Q(
    "q_pivot_events",
    s"""SELECT user_id,
      |${EventTypes.map(t => s"  CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t").mkString(",\n")}
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val wide = t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    wide.select(col("user_id") +:
        EventTypes.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
      .orderBy("user_id")
  }

  /** MELT (wide -> long) — the inverse reshape: the pivoted table
    * unpivots back to (user_id, event_type, n) rows via `stack`,
    * RESTORING explicit zero rows for absent combinations (the melt
    * contract a modeling pipeline relies on — silent missing rows skew
    * per-cell statistics). The oracle rebuilds the same grid with a
    * dimension cross join, so the pivot -> melt roundtrip is proven
    * value-exact, zeros included. */
  val meltEvents: Q = Q(
    "q_melt_events",
    """WITH grid AS (
      |  SELECT u.user_id, t.event_type
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
      |c AS (SELECT user_id, event_type, COUNT(*) AS n
      |      FROM events GROUP BY user_id, event_type)
      |SELECT g.user_id, g.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      |FROM grid g LEFT JOIN c ON c.user_id = g.user_id
      |                       AND c.event_type = g.event_type
      |ORDER BY g.user_id, g.event_type""".stripMargin) { (s, dir) =>
    val wide = t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        EventTypes.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
    val stackExpr = EventTypes.map(tp => s"'$tp', n_$tp").mkString(", ")
    wide.select(col("user_id"),
        expr(s"stack(${EventTypes.size}, $stackExpr) AS (event_type, n)"))
      .orderBy("user_id", "event_type")
  }

  /** COMMON PATHS — top-20 length-3 event sequences across all user
    * timelines (the sequence-mining primitive behind "what do users do
    * before X" and n-gram statistics over behavioral training
    * sequences). Two `lead` taps on one per-user window, then a
    * 125-row-max aggregate with TakeOrdered — no self-joins, no explode. */
  val eventPaths: Q = Q(
    "q_event_paths",
    """WITH s AS (
      |  SELECT user_id, event_type AS e1,
      |         LEAD(event_type, 1) OVER w AS e2,
      |         LEAD(event_type, 2) OVER w AS e3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e1, e2, e3, COUNT(*) AS n FROM s WHERE e3 IS NOT NULL
      |GROUP BY e1, e2, e3 ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin) {
    (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e3").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
  }

  /** GAPS-AND-ISLANDS ACTIVITY STREAKS — per user, the runs of CONSECUTIVE
    * active days (the engagement primitive behind "7-day streak" features
    * and the recency/consistency signals an interaction-log pipeline
    * weights training data by). The classic islands trick: number each
    * user's distinct active days, subtract the row number (in days) — the
    * difference is CONSTANT exactly within a consecutive run, so one
    * grouping on it recovers every island without any self-join.
    *
    * Shape at 100 TB: distinct (user, day) first (map-side combined, the
    * big reduction), then ONE keyed window bounded by days-per-user (a few
    * hundred even for a years-long log), then two hash aggregations.
    * Everything after the distinct is bounded by users x days — no raw
    * event row survives past the first aggregation. */
  val streakIslands: Q = Q(
    "q_streak_islands",
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      |  FROM events),
      |r AS (
      |  SELECT user_id, d,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
      |  FROM ud),
      |isl AS (
      |  SELECT user_id, d - CAST(rn AS INTEGER) AS grp, COUNT(*) AS len
      |  FROM r GROUP BY user_id, d - CAST(rn AS INTEGER))
      |SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |       CAST(MAX(len) AS BIGINT) AS longest_streak,
      |       CAST(SUM(len) AS BIGINT) AS active_days
      |FROM isl GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val ud = t(s, dir, "events")
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("d"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    ud.select(col("user_id"), col("d"), row_number().over(w).as("rn"))
      .groupBy(col("user_id"), date_sub(col("d"), col("rn")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        sum(col("len")).as("active_days"))
      .orderBy("user_id")
  }

  // 2^-k as exact plain-decimal strings, k = 1..16: the dyadic EWMA kernel
  // weights, single-sourced so the Spark literals and the DuckDB SQL parse
  // the IDENTICAL doubles (1/2^k is a finite decimal, so the string IS the
  // double — the HLL dyadic-table trick).
  private val EwmaWeights: Seq[String] = (1 to 16).map(k =>
    (BigDecimal(1) / BigDecimal(2).pow(k)).underlying.toPlainString)

  /** DYADIC-EXACT EWMA — exponentially-weighted moving average of the
    * per-day event counts (alpha = 1/2, kernel truncated at 16 taps): the
    * trend-smoothing operator behind rate monitoring and drift dashboards.
    * Every weight 2^-k is a dyadic rational and every daily count fits in
    * ~20 mantissa bits, so all 16 products and their sum are EXACT doubles
    * — the smoothed series hash-matches across engines with no Det decimal
    * machinery, the same exactness argument as the HLL harmonic sum. Terms
    * beyond the 16th carry weight < 2^-16 (below half an event); the
    * truncated kernel is NOT renormalized at the series head — the
    * warm-up rows read low by the missing tail, documented standard
    * behavior for a fixed-kernel smoother.
    *
    * Shape at 100 TB: the daily aggregation collapses the raw stream
    * first; the 16-tap window partitions by event_type and is bounded by
    * days-per-series. A 1000x corpus adds rows to the AGGREGATION (map-side
    * combined), not to the window. */
  val ewmaDaily: Q = {
    def tapSql(j: Int) =
      s"CAST(COALESCE(LAG(cnt, $j) OVER w, 0) AS DOUBLE) * ${EwmaWeights(j)}::DOUBLE"
    Q(
      "q_ewma_daily",
      s"""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
        |         COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, d, CAST(cnt AS BIGINT) AS cnt,
        |       ${(0 until 16).map(tapSql).mkString("\n       + ")} AS ewma
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY d)
        |ORDER BY event_type, d""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy("d")
      val ewma = (0 until 16).map(j =>
        coalesce(lag(col("cnt"), j).over(w), lit(0L)).cast("double") *
          lit(EwmaWeights(j).toDouble)).reduce(_ + _)
      t(s, dir, "events")
        .groupBy(col("event_type"),
          to_date(date_trunc("day", col("ts"))).as("d"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("event_type"), col("d"), col("cnt"), ewma.as("ewma"))
        .orderBy("event_type", "d")
    }
  }

  /** WEEKDAY SEASONAL PROFILE — the seasonality decomposition a traffic
    * forecaster starts from: per (event_type, ISO weekday), the event
    * volume and its seasonal index vs the series' flat daily mean, in
    * exact parts-per-million (`s_dow * n_days_total * 1e6 DIV
    * (n_days_dow * s_total)` — all integer, so the index hash-matches
    * without any float ratio). Monday = 1 in both engines (Spark
    * `weekday()+1`, DuckDB `isodow()`).
    *
    * Shape at 100 TB: the daily grid collapses the raw stream first
    * (map-side combined); everything after is bounded by
    * event_types x days, and the per-type totals join back by BROADCAST. */
  val seasonalProfile: Q = Q(
    "q_seasonal_profile",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |         COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |dw AS (
      |  SELECT event_type, CAST(isodow(d) AS BIGINT) AS dow,
      |         SUM(cnt) AS s, COUNT(*) AS nd
      |  FROM daily GROUP BY 1, 2),
      |tot AS (SELECT event_type, SUM(cnt) AS st, COUNT(*) AS ndt
      |        FROM daily GROUP BY 1)
      |SELECT w.event_type, w.dow,
      |       CAST(w.s AS BIGINT) AS n_events,
      |       CAST(w.nd AS BIGINT) AS n_days,
      |       CAST(w.s * t.ndt * 1000000 // (w.nd * t.st) AS BIGINT) AS seasonal_ppm
      |FROM dw w JOIN tot t USING (event_type)
      |ORDER BY event_type, dow""".stripMargin) { (s, dir) =>
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val dw = daily
      .groupBy(col("event_type"), (expr("weekday(d)") + 1).cast("long").as("dow"))
      .agg(sum(col("cnt")).as("s"), count(lit(1)).as("nd"))
    val tot = daily.groupBy("event_type")
      .agg(sum(col("cnt")).as("st"), count(lit(1)).as("ndt"))
    dw.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("dow"),
        col("s").cast("long").as("n_events"),
        col("nd").cast("long").as("n_days"),
        expr("s * ndt * 1000000 DIV (nd * st)").as("seasonal_ppm"))
      .orderBy("event_type", "dow")
  }

  /** AUTOCORRELATION FUNCTION (ACF) — per event type, the lag-1..7
    * autocorrelation of the daily volume series: the standard seasonality
    * and persistence diagnostic (Box & Jenkins) behind every forecast
    * and anomaly model. The series is the ZERO-FILLED calendar grid
    * (global min..max day × types), so a missing day is a real 0, not a
    * silently skipped lag step.
    *
    * Exactness: with n days, S = Σx, Q = Σx², Pₖ = Σ xₜ·xₜ₋ₖ and
    * Tₖ = Σ (xₜ + xₜ₋ₖ) over defined lags, the textbook ACF numerator
    * and denominator scale by n² to clear the mean's fraction:
    *   Aₖ = n²·Pₖ − n·S·Tₖ + (n−k)·S²,   D = n²·Q − n·S²
    * acf_ppm = floor(Aₖ·10⁶ / D). Every product and sum is computed in
    * DECIMAL(38,0) / HUGEINT with x WIDENED BEFORE the first multiply
    * (sum(xd·xd), never sum(x·x) in Long), so the two engines hold
    * identical value trees end-to-end and the Spark side cannot wrap a
    * Long where the oracle widens: daily counts up to ~10⁹ across a
    * 30-year calendar stay exact (Aₖ·10⁶ ≤ ~4·10⁶·n³·X² < 10³⁸).
    * Aₖ may be NEGATIVE — BOTH engines' integer division truncates
    * toward zero (Spark DIV and DuckDB `//` alike), so both add a
    * +10⁷·D offset first (making the numerator positive, where truncate
    * and floor coincide — i.e. the offset REALIZES floor semantics) and
    * subtract 10⁷ after. A constant series (D = 0) yields NULL acf by
    * contract.
    *
    * Shape at 100 TB: ONE fact scan collapses map-side to (type, day)
    * counts; the calendar grid is types × days (broadcast-sized); the 7
    * lag taps ride one type-partitioned window over calendar-bounded
    * frames; the final aggregate is 7 rows per type. */
  val autocorr: Q = Q(
    "q_autocorr",
    s"""WITH $typeGridCtes,
      |lagged AS (
      |  SELECT event_type, x,
      |         LAG(x, 1) OVER w AS l1, LAG(x, 2) OVER w AS l2,
      |         LAG(x, 3) OVER w AS l3, LAG(x, 4) OVER w AS l4,
      |         LAG(x, 5) OVER w AS l5, LAG(x, 6) OVER w AS l6,
      |         LAG(x, 7) OVER w AS l7
      |  FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |         SUM(CAST(x AS HUGEINT)) AS s,
      |         SUM(CAST(x AS HUGEINT) * x) AS q,
      |         SUM(CASE WHEN l1 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) * l1 END) AS p1,
      |         SUM(CASE WHEN l1 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) + l1 END) AS t1,
      |         SUM(CASE WHEN l2 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) * l2 END) AS p2,
      |         SUM(CASE WHEN l2 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) + l2 END) AS t2,
      |         SUM(CASE WHEN l3 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) * l3 END) AS p3,
      |         SUM(CASE WHEN l3 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) + l3 END) AS t3,
      |         SUM(CASE WHEN l4 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) * l4 END) AS p4,
      |         SUM(CASE WHEN l4 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) + l4 END) AS t4,
      |         SUM(CASE WHEN l5 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) * l5 END) AS p5,
      |         SUM(CASE WHEN l5 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) + l5 END) AS t5,
      |         SUM(CASE WHEN l6 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) * l6 END) AS p6,
      |         SUM(CASE WHEN l6 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) + l6 END) AS t6,
      |         SUM(CASE WHEN l7 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) * l7 END) AS p7,
      |         SUM(CASE WHEN l7 IS NULL THEN 0 ELSE CAST(x AS HUGEINT) + l7 END) AS t7
      |  FROM lagged GROUP BY event_type),
      |k AS (SELECT UNNEST(generate_series(1, 7)) AS lag),
      |ex AS (
      |  SELECT st.event_type, k.lag, st.n,
      |         CASE k.lag WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3
      |              WHEN 4 THEN p4 WHEN 5 THEN p5 WHEN 6 THEN p6
      |              ELSE p7 END AS p,
      |         CASE k.lag WHEN 1 THEN t1 WHEN 2 THEN t2 WHEN 3 THEN t3
      |              WHEN 4 THEN t4 WHEN 5 THEN t5 WHEN 6 THEN t6
      |              ELSE t7 END AS tk,
      |         s, q
      |  FROM st CROSS JOIN k),
      |f AS (
      |  SELECT event_type, lag, n,
      |         CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * CAST(p AS HUGEINT)
      |           - CAST(n AS HUGEINT) * s * CAST(tk AS HUGEINT)
      |           + CAST(n - lag AS HUGEINT) * s * s AS a,
      |         CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * q
      |           - CAST(n AS HUGEINT) * s * s AS den
      |  FROM ex)
      |SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
      |       CASE WHEN den = 0 THEN NULL
      |            ELSE CAST((a * 1000000 + 10000000 * den) // den - 10000000
      |                      AS BIGINT) END AS acf_ppm
      |FROM f ORDER BY event_type, lag""".stripMargin) { (s, dir) =>
    val grid = typeGrid(s, dir)
    val w = Window.partitionBy("event_type").orderBy("d")
    val lagged = grid.select(
      (col("event_type") +: col("x") +:
        (1 to 7).map(k => lag(col("x"), k).over(w).as(s"l$k"))): _*)
    // Widen BEFORE the first multiply: sum(xd*xd) in DECIMAL(38,0), never
    // sum(x*x) in Long — matches the oracle's HUGEINT value tree so large
    // daily counts widen instead of wrapping (r13 advice).
    val xd = col("x").cast("decimal(38,0)")
    val aggs =
      Seq(count(lit(1)).as("n"),
        sum(xd).cast("decimal(38,0)").as("s"),
        sum(xd * xd).cast("decimal(38,0)").as("q")) ++
      (1 to 7).flatMap { k =>
        val lk = col(s"l$k").cast("decimal(38,0)")
        Seq(
          sum(when(col(s"l$k").isNull, lit(0).cast("decimal(38,0)"))
            .otherwise(xd * lk)).as(s"p$k"),
          sum(when(col(s"l$k").isNull, lit(0).cast("decimal(38,0)"))
            .otherwise(xd + lk)).as(s"t$k"))
      }
    val st = lagged.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
    val ks = s.range(1, 8).select(col("id").as("lag"))
    val pCase = "CASE lag WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 " +
      "WHEN 4 THEN p4 WHEN 5 THEN p5 WHEN 6 THEN p6 ELSE p7 END"
    val tCase = "CASE lag WHEN 1 THEN t1 WHEN 2 THEN t2 WHEN 3 THEN t3 " +
      "WHEN 4 THEN t4 WHEN 5 THEN t5 WHEN 6 THEN t6 ELSE t7 END"
    st.crossJoin(broadcast(ks)) // 7-row lag grid per type
      .select(col("event_type"), col("lag"), col("n"),
        expr(s"CAST($pCase AS DECIMAL(38,0))").as("p"),
        expr(s"CAST($tCase AS DECIMAL(38,0))").as("tk"),
        col("s"), col("q"))
      .select(col("event_type"), col("lag").cast("long").as("lag"),
        col("n").cast("long").as("n_days"),
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n * q - CAST(n AS DECIMAL(38,0)) * s * s = 0
               |     THEN NULL
               |     ELSE CAST(((CAST(n AS DECIMAL(38,0)) * n * p
               |                  - CAST(n AS DECIMAL(38,0)) * s * tk
               |                  + CAST(n - lag AS DECIMAL(38,0)) * s * s) * 1000000
               |                 + 10000000 * (CAST(n AS DECIMAL(38,0)) * n * q
               |                               - CAST(n AS DECIMAL(38,0)) * s * s))
               |                DIV (CAST(n AS DECIMAL(38,0)) * n * q
               |                     - CAST(n AS DECIMAL(38,0)) * s * s) - 10000000
               |               AS BIGINT) END""".stripMargin).as("acf_ppm"))
  }

  /** ADDITIVE SEASONAL-TREND DECOMPOSITION — the classical STL-style
    * split of each type's daily volume series into trend + weekly
    * seasonal + remainder (Cleveland's decomposition in its textbook
    * moving-average form): trend = centered 7-day moving average (NULL on
    * the 3 edge days each side — the classical convention), seasonal =
    * the per-ISO-weekday mean of the detrended series, remainder = what
    * neither explains. The anomaly-detection preprocessor: a spike is
    * only a spike relative to trend AND weekday.
    *
    * Exactness: everything is integer micro-units. trend_micro =
    * Σ₇x·10⁶ DIV 7 (positive ⇒ floor ≡ truncate); detrended = x·10⁶ −
    * trend_micro (no division); seasonal_micro = floor(Σdet / n) via the
    * +K·n offset (K = 10¹⁵, computed in DECIMAL(38,0)/HUGEINT — det may
    * be negative, and BOTH engines' integer division truncates toward
    * zero, so the offset exists to realize consistent FLOOR semantics on
    * negative numerators, not to paper over an engine difference);
    * remainder = det − seasonal (subtraction only). The series is the
    * zero-filled calendar grid (q_autocorr's convention), so gaps are
    * real zeros. Weekday keying is ISO Monday=1 (q_seasonal_profile's
    * convention).
    *
    * Shape at 100 TB: one fact scan → (type, day) counts (map-side
    * combined); the 7-tap trend window and the dow means run over
    * calendar-bounded frames; seasonal joins back by BROADCAST
    * (types × 7 rows). */
  /** Shared STL CTE chain (daily → grid → trend → detrended → seasonal →
    * per-day remainder): single-sourced between the decomposition readout
    * and the seasonal anomaly gate, so the residuals gated ARE the
    * residuals reported. */
  private val stlCtes =
    s"""$typeGridCtes,
      |tr AS (
      |  SELECT event_type, d, x, isodow(d) AS dow,
      |         CASE WHEN COUNT(*) OVER w = 7
      |              THEN SUM(x) OVER w * 1000000 // 7 END AS trend_micro
      |  FROM grid
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (
      |  SELECT *, x * 1000000 - trend_micro AS detrended FROM tr),
      |seas AS (
      |  SELECT event_type, dow,
      |         CAST((SUM(CAST(detrended AS HUGEINT))
      |               + 1000000000000000 * COUNT(detrended))
      |              // COUNT(detrended) - 1000000000000000 AS BIGINT)
      |           AS seasonal_micro
      |  FROM det WHERE detrended IS NOT NULL
      |  GROUP BY event_type, dow),
      |remf AS (
      |  SELECT det.event_type, det.d, det.x, det.dow, det.trend_micro,
      |         seas.seasonal_micro,
      |         det.detrended - seas.seasonal_micro AS remainder_micro
      |  FROM det JOIN seas
      |    ON seas.event_type = det.event_type AND seas.dow = det.dow)""".stripMargin

  /** ADDITIVE SEASONAL-TREND DECOMPOSITION — the classical STL-style
    * split of each type's daily volume into trend (centered 7-day MA,
    * NULL edge days) + per-ISO-weekday seasonal + remainder, all in
    * integer micro-units over the zero-filled calendar grid; see
    * [[stlCtes]] for the single-sourced chain the anomaly gate shares. */
  val stlDecompose: Q = Q(
    "q_stl_decompose",
    s"""WITH $stlCtes
      |SELECT event_type, d, CAST(x AS BIGINT) AS x,
      |       CAST(dow AS BIGINT) AS dow,
      |       CAST(trend_micro AS BIGINT) AS trend_micro,
      |       CAST(seasonal_micro AS BIGINT) AS seasonal_micro,
      |       CAST(remainder_micro AS BIGINT) AS remainder_micro
      |FROM remf
      |ORDER BY event_type, d""".stripMargin) { (s, dir) =>
    stlFrame(s, dir)
      .select(col("event_type"), col("d"), col("x").cast("long").as("x"),
        col("dow").cast("long").as("dow"),
        col("trend_micro"), col("seasonal_micro"), col("remainder_micro"))
      .orderBy("event_type", "d")
  }

  /** Spark twin of the [[stlCtes]] chain, through the remainder. */
  private def stlFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val grid = typeGrid(s, dir)
    val w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    val det = grid
      .withColumn("dow", weekday(col("d")) + 1) // ISO Monday = 1
      .withColumn("c7", count(lit(1)).over(w))
      .withColumn("s7", sum(col("x")).over(w))
      .withColumn("trend_micro",
        expr("CASE WHEN c7 = 7 THEN s7 * 1000000 DIV 7 END"))
      .drop("c7", "s7")
      .withColumn("detrended", col("x") * lit(1000000L) - col("trend_micro"))
    val seas = det.filter(col("detrended").isNotNull)
      .groupBy("event_type", "dow")
      .agg(expr("""CAST((SUM(CAST(detrended AS DECIMAL(38,0)))
                 |      + 1000000000000000 * COUNT(detrended))
                 |     DIV COUNT(detrended) - 1000000000000000 AS BIGINT)"""
        .stripMargin).as("seasonal_micro"))
    det.join(broadcast(seas), Seq("event_type", "dow")) // types x 7 rows
      .withColumn("remainder_micro",
        (col("detrended") - col("seasonal_micro")).cast("long"))
  }

  /** HOLT LINEAR FORECAST — double exponential smoothing (Holt 1957) of
    * each type's daily volume with dyadic coefficients α = 1/2, β = 1/4,
    * in integer micro-units with FLOOR division at every step:
    *   l_t = ⌊(10⁶·x_t + l_{t−1} + b_{t−1}) / 2⌋
    *   b_t = ⌊((l_t − l_{t−1}) + 3·b_{t−1}) / 4⌋
    * seeded l_0 = 10⁶·x_0, b_0 = 0; each day also emits the one-step-ahead
    * forecast its state implies (l_t + b_t — what the model predicts for
    * tomorrow). The level recurrence is order-sensitive, so it runs as the
    * engine's sanctioned PER-KEY SEQUENTIAL FOLD (`groupByKey(type)
    * .flatMapGroups`, the Sir.simulatePerKey posture): one pass over each
    * type's CALENDAR-BOUNDED series (days per type are bounded by the time
    * range, not the fact count — the same bound every daily-grid query
    * leans on). The oracle replays the identical integer recurrence as a
    * recursive CTE; JVM integer `/` and DuckDB integer `//` both
    * TRUNCATE toward zero, so NEGATIVE trend states agree bit-for-bit
    * with no offset machinery (the smoothing is defined over truncating
    * division — deterministic and engine-identical, which is the
    * contract that matters).
    * Headroom: micro-unit states overflow Long only past ~9·10¹² events
    * per (type, day).
    *
    * Shape at 100 TB: one fact scan → map-side-combined (type, day)
    * counts; the fold touches only the dimension-sized grid (types ×
    * days), one task per type. */
  /** Shared Holt CTE chain (daily grid -> the hw recursive smoothing):
    * single-sourced between the forecast readout and the backtest, so the
    * model evaluated IS the model shipped. */
  private val holtCtes =
    s"""$typeGridRnCtes,
      |hw AS (
      |  SELECT event_type, rn, d, x,
      |         1000000 * x AS l, CAST(0 AS BIGINT) AS b
      |  FROM grid WHERE rn = 1
      |  UNION ALL
      |  SELECT g.event_type, g.rn, g.d, g.x,
      |         (1000000 * g.x + hw.l + hw.b) // 2 AS l,
      |         (((1000000 * g.x + hw.l + hw.b) // 2 - hw.l) + 3 * hw.b) // 4 AS b
      |  FROM hw JOIN grid g
      |    ON g.event_type = hw.event_type AND g.rn = hw.rn + 1)""".stripMargin

  /** HOLT LINEAR FORECAST — double exponential smoothing (α = 1/2,
    * β = 1/4) of each type's daily volume in integer micro-units under
    * truncating division, run as the sanctioned per-key sequential fold;
    * each day also emits its one-step-ahead forecast. See [[holtCtes]]
    * for the single-sourced recursive chain the backtest shares. */
  val holtForecast: Q = Q(
    "q_holt_forecast",
    s"""WITH RECURSIVE $holtCtes
      |SELECT event_type, d, CAST(x AS BIGINT) AS x,
      |       CAST(l AS BIGINT) AS level_micro, CAST(b AS BIGINT) AS trend_micro,
      |       CAST(l + b AS BIGINT) AS forecast_next_micro
      |FROM hw ORDER BY event_type, d""".stripMargin) { (s, dir) =>
    holtFrame(s, dir).orderBy("event_type", "d")
  }

  /** Spark twin of [[holtCtes]]: the per-type sequential fold, one output
    * row per (type, calendar day). */
  private def holtFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val grid = typeGrid(s, dir)
      .as[HwIn]
    grid.groupByKey(_.event_type).flatMapGroups { (_, it) =>
      val series = it.toArray.sortBy(_.d.getTime) // calendar-bounded
      var l = 1000000L * series.head.x
      var b = 0L
      series.iterator.zipWithIndex.map { case (row, i) =>
        if (i > 0) {
          val l1 = (1000000L * row.x + l + b) / 2L
          b = ((l1 - l) + 3L * b) / 4L
          l = l1
        }
        HwOut(row.event_type, row.d, row.x, l, b, l + b)
      }
    }.toDF()
  }

  /** HOLT-WINTERS ADDITIVE SEASONAL FORECAST — triple exponential
    * smoothing (Winters 1960), the weekly-seasonal capstone of the
    * forecasting family ([[holtForecast]] is its no-seasonal half): with
    * dyadic coefficients α = 1/2, β = 1/4, γ = 1/2 and period m = 7, in
    * integer micro-units under TRUNCATING division at every step (the
    * Holt contract — both engines truncate, no offset machinery):
    *   l_t = ⌊(10⁶x_t − s_{t−7} + l_{t−1} + b_{t−1}) / 2⌋
    *   b_t = ⌊((l_t − l_{t−1}) + 3·b_{t−1}) / 4⌋
    *   s_t = ⌊((10⁶x_t − l_t) + s_{t−7}) / 2⌋
    * seeded l₀ = 10⁶x₀, b₀ = 0, first-week seasonals 0; each day emits
    * the one-step forecast l + b + s_{t−6} (the seasonal that applies
    * tomorrow). The rotating 7-slot seasonal buffer is the entire extra
    * state — seven longs in the fold, seven columns in the oracle's
    * recursive CTE.
    *
    * Shape at 100 TB: identical to [[holtForecast]] — one fact scan →
    * map-side-combined (type, day) counts; the fold touches only the
    * calendar-bounded grid, one task per type. */
  val hwSeasonal: Q = Q(
    "q_hw_seasonal",
    s"""WITH RECURSIVE $typeGridRnCtes,
      |hw AS (
      |  SELECT event_type, rn, d, x,
      |         1000000 * x AS l, CAST(0 AS BIGINT) AS b,
      |         CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
      |         CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
      |         CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
      |         CAST(0 AS BIGINT) AS s7
      |  FROM grid WHERE rn = 1
      |  UNION ALL
      |  SELECT g.event_type, g.rn, g.d, g.x,
      |         (1000000 * g.x - hw.s1 + hw.l + hw.b) // 2 AS l,
      |         (((1000000 * g.x - hw.s1 + hw.l + hw.b) // 2) - hw.l
      |          + 3 * hw.b) // 4 AS b,
      |         hw.s2, hw.s3, hw.s4, hw.s5, hw.s6, hw.s7,
      |         ((1000000 * g.x - (1000000 * g.x - hw.s1 + hw.l + hw.b) // 2)
      |          + hw.s1) // 2 AS s7
      |  FROM hw JOIN grid g
      |    ON g.event_type = hw.event_type AND g.rn = hw.rn + 1)
      |SELECT event_type, d, CAST(x AS BIGINT) AS x,
      |       CAST(l AS BIGINT) AS level_micro, CAST(b AS BIGINT) AS trend_micro,
      |       CAST(s7 AS BIGINT) AS seasonal_micro,
      |       CAST(l + b + s1 AS BIGINT) AS forecast_next_micro
      |FROM hw ORDER BY event_type, d""".stripMargin) { (s, dir) =>
    import s.implicits._
    val grid = typeGrid(s, dir)
      .as[HwIn]
    grid.groupByKey(_.event_type).flatMapGroups {
      (ty: String, it: Iterator[HwIn]) =>
        val series = it.toArray.sortBy(_.d.getTime) // calendar-bounded
        var l = 1000000L * series.head.x
        var b = 0L
        val sbuf = new Array[Long](7) // s_{t-6..t}, oldest first
        series.iterator.zipWithIndex.map { case (row, i) =>
          if (i > 0) {
            val sold = sbuf(0)
            val xm = 1000000L * row.x
            val l1 = (xm - sold + l + b) / 2L
            b = ((l1 - l) + 3L * b) / 4L
            val snew = ((xm - l1) + sold) / 2L
            l = l1
            System.arraycopy(sbuf, 1, sbuf, 0, 6)
            sbuf(6) = snew
          }
          HwsOut(ty, row.d, row.x, l, b, sbuf(6), l + b + sbuf(0))
        }
    }.toDF()
      .orderBy("event_type", "d")
  }

  /** MULTI-TOUCH (linear) ATTRIBUTION — the credit-splitting complement
    * of [[lastTouchAttribution]]: every view/click in the 2 hours
    * STRICTLY before a purchase shares the conversion credit equally
    * (credit per touch = 10⁶ DIV n_touches ppm — the linear model;
    * the ≤ (n−1) ppm floor remainder per purchase is deliberately
    * unassigned, documented rather than smeared). The channel report
    * aggregates touches and credit per touch type.
    *
    * Shape at 100 TB: the touch↔purchase meeting uses the RANGE-JOIN
    * bucket idiom (q_range_join): time bucketized at the window width, so
    * each purchase probes exactly two (user, bucket) cells — keyed
    * equi-join, never an inequality product. Then one purchase-sized
    * aggregation for n_touches, a keyed join back, and a
    * channel-count-sized rollup. */
  val multiTouch: Q = Q(
    "q_multitouch",
    """WITH p AS (
      |  SELECT user_id, event_id AS pid, ts AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |tc AS (
      |  SELECT user_id, ts AS tts, event_type AS channel
      |  FROM events WHERE event_type IN ('view', 'click')),
      |hit AS (
      |  SELECT p.pid, tc.channel
      |  FROM p JOIN tc
      |    ON p.user_id = tc.user_id
      |   AND tc.tts >= p.pts - INTERVAL 2 HOUR AND tc.tts < p.pts),
      |n AS (SELECT pid, COUNT(*) AS n_touches FROM hit GROUP BY pid),
      |credit AS (
      |  SELECT hit.channel, hit.pid, 1000000 // n.n_touches AS c
      |  FROM hit JOIN n USING (pid))
      |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |       CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
      |       CAST(SUM(c) AS BIGINT) AS credit_ppm
      |FROM credit GROUP BY channel ORDER BY channel""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val W = 7200000000L // 2h in micros = the bucket width
    def bucketOf(ts: org.apache.spark.sql.Column) = {
      val us = unix_micros(ts)
      ((us - pmod(us, lit(W))) / W).cast("long")
    }
    val touches = ev.filter(col("event_type").isin("view", "click")).select(
      col("user_id"), col("ts").as("tts"), col("event_type").as("channel"),
      bucketOf(col("ts")).as("bucket"))
    val probes = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
      explode(array(bucketOf(col("ts")) - 1, bucketOf(col("ts")))).as("bucket"))
    val hit = probes.join(touches, Seq("user_id", "bucket"))
      .filter(col("tts") >= col("pts") - expr(s"INTERVAL 2 HOURS") &&
        col("tts") < col("pts"))
      .select(col("pid"), col("channel"))
    val n = hit.groupBy("pid").agg(count(lit(1)).as("n_touches"))
    hit.join(n, "pid")
      .withColumn("c", expr("1000000 DIV n_touches"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("pid")).as("n_purchases"),
        sum(col("c")).cast("long").as("credit_ppm"))
      .orderBy("channel")
  }

  /** SEASONAL-ADJUSTED ANOMALY GATE — the composition the STL split
    * exists for: a day is anomalous only relative to trend AND weekday,
    * so the gate runs the robust MAD rule (the q_mad_robust convention:
    * `percentile`/`quantile_cont` medians over integers, dev > 3·MAD)
    * over the STL REMAINDERS instead of raw counts — a Monday dip or a
    * steady ramp never false-alarms. Single-sourced with
    * q_stl_decompose through [[stlCtes]]/[[stlFrame]]. Per-type summary:
    * scored days, median/MAD of the remainder, anomaly count, the worst
    * deviation and its day (ties to the earliest day).
    *
    * Shape at 100 TB: everything after the daily collapse is
    * calendar-bounded (the STL frame), two keyed percentile passes over
    * ≤ days-per-type rows, and a type-count-sized summary. */
  val seasonalAnomaly: Q = Q(
    "q_seasonal_anomaly",
    s"""WITH $stlCtes,
      |rem AS (
      |  SELECT event_type, d, remainder_micro FROM remf
      |  WHERE remainder_micro IS NOT NULL),
      |m AS (SELECT event_type, quantile_cont(remainder_micro, 0.5) AS med
      |      FROM rem GROUP BY event_type),
      |dd AS (SELECT rem.event_type, rem.d, rem.remainder_micro, m.med,
      |              ABS(CAST(rem.remainder_micro AS DOUBLE) - m.med) AS dev
      |       FROM rem JOIN m ON m.event_type = rem.event_type),
      |sm AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |       FROM dd GROUP BY event_type),
      |rk AS (SELECT dd.*, sm.mad,
      |              ROW_NUMBER() OVER (PARTITION BY dd.event_type
      |                                 ORDER BY dd.dev DESC, dd.d) AS rn
      |       FROM dd JOIN sm ON sm.event_type = dd.event_type)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
      |       MIN(med) AS med, MIN(mad) AS mad,
      |       CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_anomalies,
      |       MAX(dev) AS max_dev,
      |       MAX(CASE WHEN rn = 1 THEN d END) AS worst_day
      |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val rem = stlFrame(s, dir)
      .filter(col("remainder_micro").isNotNull)
      .select(col("event_type"), col("d"), col("remainder_micro"))
    val m = rem.groupBy(col("event_type").as("mtype"))
      .agg(percentile(col("remainder_micro"), lit(0.5)).as("med"))
    val dd = rem.join(broadcast(m), col("event_type") === col("mtype"))
      .select(col("event_type"), col("d"), col("med"),
        abs(col("remainder_micro").cast("double") - col("med")).as("dev"))
    val sm = dd.groupBy(col("event_type").as("stype"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dd.join(broadcast(sm), col("event_type") === col("stype"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
          .as("n_anomalies"),
        max(col("dev")).as("max_dev"),
        max_by(col("d"), struct(col("dev"),
          expr("0 - datediff(d, DATE'1970-01-01')"))).as("worst_day"))
  }

  /** FORECAST BACKTEST — one-step-ahead evaluation of the Holt model
    * against what actually happened: each day's implied forecast
    * (lₜ + bₜ) meets the NEXT day's actual, per type, as mean absolute
    * error in micro-units, next to the naive persistence baseline
    * (tomorrow = today — the bar any forecast must beat) and the skill
    * ratio MAE_model·10⁶ DIV MAE_naive (< 10⁶ ⇒ the model beats naive).
    * Single-sourced with q_holt_forecast through [[holtCtes]]/
    * [[holtFrame]], so the model evaluated IS the model shipped. All
    * integer: errors are |10⁶·x_{t+1} − forecast| sums with one integral
    * divide per mean.
    *
    * Shape at 100 TB: the backtest join is holt-output ⋈ holt-output on
    * (type, d+1) — calendar-bounded frames, a type-count-sized summary. */
  val forecastBacktest: Q = Q(
    "q_forecast_backtest",
    s"""WITH RECURSIVE $holtCtes,
      |f AS (SELECT event_type, rn, d, x, l + b AS fc FROM hw),
      |j AS (
      |  SELECT f.event_type,
      |         ABS(1000000 * nx.x - f.fc) AS err,
      |         ABS(1000000 * nx.x - 1000000 * f.x) AS err_naive
      |  FROM f JOIN f nx
      |    ON nx.event_type = f.event_type AND nx.rn = f.rn + 1)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_evals,
      |       CAST(SUM(err) // COUNT(*) AS BIGINT) AS mae_micro,
      |       CAST(SUM(err_naive) // COUNT(*) AS BIGINT) AS mae_naive_micro,
      |       CAST(SUM(err) * 1000000 // GREATEST(SUM(err_naive), 1) AS BIGINT)
      |         AS skill_ppm
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val f = holtFrame(s, dir)
      .select(col("event_type"), col("d"), col("x"),
        col("forecast_next_micro").as("fc"))
    val nx = f.select(col("event_type"), date_sub(col("d"), 1).as("d"),
      col("x").as("x_next"))
    f.join(nx, Seq("event_type", "d")) // (type, d) meets next day's actual
      .select(col("event_type"),
        abs(lit(1000000L) * col("x_next") - col("fc")).as("err"),
        abs(lit(1000000L) * col("x_next") - lit(1000000L) * col("x"))
          .as("err_naive"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_evals"),
        expr("SUM(err) DIV COUNT(*)").as("mae_micro"),
        expr("SUM(err_naive) DIV COUNT(*)").as("mae_naive_micro"),
        expr("SUM(err) * 1000000 DIV GREATEST(SUM(err_naive), 1)")
          .as("skill_ppm"))
  }

  /** COHORT LTV CURVES — the product-analytics readout next to
    * q_retention_cohorts: users cohorted by first-activity ISO week,
    * purchase revenue accumulated over cohort age in weeks, and LTV as
    * exact cents-per-user (cumulative cents DIV cohort size). Ages with
    * zero revenue emit no row; the running sum is over OBSERVED ages,
    * which is identical because absent ages contribute nothing.
    *
    * Shape at 100 TB: one scan for first-activity weeks (map-side
    * min-combined per user), one purchase scan joined to the per-user
    * cohort (keyed), a (cohort, age) aggregation, then a running-sum
    * window over calendar-bounded frames with the cohort-size dimension
    * broadcast back. */
  val cohortLtv: Q = Q(
    "q_cohort_ltv",
    """WITH first AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      |  FROM events GROUP BY user_id),
      |size_ AS (SELECT cohort, COUNT(*) AS cohort_size FROM first GROUP BY cohort),
      |rev AS (
      |  SELECT f.cohort,
      |         (CAST(date_trunc('week', e.ts) AS DATE) - f.cohort) // 7 AS age_weeks,
      |         CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM events e JOIN first f ON f.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort, age_weeks, rev_cents,
      |         CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age_weeks)
      |              AS BIGINT) AS cum_cents
      |  FROM rev)
      |SELECT cum.cohort AS cohort, CAST(cum.age_weeks AS BIGINT) AS age_weeks,
      |       CAST(size_.cohort_size AS BIGINT) AS cohort_size,
      |       cum.rev_cents, cum.cum_cents,
      |       cum.cum_cents // size_.cohort_size AS ltv_cents_per_user
      |FROM cum JOIN size_ ON size_.cohort = cum.cohort
      |ORDER BY cohort, age_weeks""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
    val size = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .groupBy(col("cohort"),
        expr("datediff(CAST(date_trunc('week', ts) AS DATE), cohort) DIV 7")
          .as("age_weeks"))
      .agg(sum(round(col("value") * 100).cast("long")).cast("long")
        .as("rev_cents"))
    val w = Window.partitionBy("cohort").orderBy("age_weeks")
    rev
      .withColumn("cum_cents", sum(col("rev_cents")).over(w).cast("long"))
      .join(broadcast(size), "cohort") // cohort-count-sized dimension
      .select(col("cohort"), col("age_weeks").cast("long").as("age_weeks"),
        col("cohort_size").cast("long").as("cohort_size"),
        col("rev_cents"), col("cum_cents"),
        expr("cum_cents DIV cohort_size").as("ltv_cents_per_user"))
      .orderBy("cohort", "age_weeks")
  }

  /** SAX SYMBOLIC MOTIFS — Symbolic Aggregate approXimation (Lin & Keogh)
    * of each type's daily volume series, then motif counting: (1) PAA —
    * non-overlapping 3-day frames reduce to their integer-micro mean
    * (x ≥ 0 so truncate ≡ floor; a short tail frame averages over its own
    * length); (2) DISCRETIZE — each frame becomes one of four symbols by
    * the series' own POSITIONAL quartiles (the value at 1-based rank
    * ⌈k·n/4⌉ of the (v, frame)-sorted PAA values — data-driven
    * breakpoints, the SAX equiprobability idea without assuming
    * Gaussianity, and exact in both engines because the breakpoint is a
    * selected element, never an interpolated one); (3) MOTIFS — sliding
    * 3-symbol words per type, top-3 by count (ties lexicographic). The
    * result is the "shape vocabulary" of each series — the preprocessing
    * step behind time-series indexing, motif discovery, and anomaly
    * grammars at a fraction of the raw-series cost.
    *
    * Shape at 100 TB: one fact scan → (type, day) counts; PAA is a
    * (type, frame) aggregation over the calendar-bounded grid; ranks,
    * breakpoints, word assembly, and the top-3 window all run per type
    * over frame-counted rows — dimension-sized after the first
    * aggregation, like every daily-grid query in this file. */
  val saxMotifs: Q = Q(
    "q_sax_motifs",
    s"""WITH $typeGridCtes,
      |g2 AS (
      |  SELECT event_type, x,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1 AS i
      |  FROM grid),
      |paa AS (
      |  SELECT event_type, i // 3 AS f,
      |         (SUM(x) * 1000000) // COUNT(*) AS v
      |  FROM g2 GROUP BY event_type, i // 3),
      |rk AS (
      |  SELECT event_type, f, v,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, f) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM paa),
      |bp AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN rn = (1 * n + 3) // 4 THEN v END) AS b1,
      |         MAX(CASE WHEN rn = (2 * n + 3) // 4 THEN v END) AS b2,
      |         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS b3
      |  FROM rk GROUP BY event_type),
      |sym AS (
      |  SELECT p.event_type, p.f,
      |         CASE WHEN p.v <= bp.b1 THEN 0 WHEN p.v <= bp.b2 THEN 1
      |              WHEN p.v <= bp.b3 THEN 2 ELSE 3 END AS sy
      |  FROM paa p JOIN bp USING (event_type)),
      |words AS (
      |  SELECT event_type, word FROM (
      |    SELECT event_type,
      |           CAST(sy AS VARCHAR) || CAST(LEAD(sy, 1) OVER w AS VARCHAR)
      |             || CAST(LEAD(sy, 2) OVER w AS VARCHAR) AS word,
      |           LEAD(sy, 2) OVER w AS ok
      |    FROM sym WINDOW w AS (PARTITION BY event_type ORDER BY f))
      |  WHERE ok IS NOT NULL),
      |wc AS (SELECT event_type, word, COUNT(*) AS cnt FROM words GROUP BY 1, 2)
      |SELECT event_type, word, CAST(cnt AS BIGINT) AS cnt,
      |       CAST(rn AS BIGINT) AS rank
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |                                   ORDER BY cnt DESC, word) AS rn
      |      FROM wc)
      |WHERE rn <= 3
      |ORDER BY event_type, rank""".stripMargin) { (s, dir) =>
    val grid = typeGrid(s, dir)
    val byDay = Window.partitionBy("event_type").orderBy("d")
    val paa = grid
      .withColumn("i", row_number().over(byDay).cast("long") - 1)
      .groupBy(col("event_type"), expr("i DIV 3").as("f"))
      .agg(expr("(SUM(x) * 1000000) DIV COUNT(*)").as("v"))
    val byV = Window.partitionBy("event_type").orderBy("v", "f")
    val perTy = Window.partitionBy("event_type")
    val rk = paa
      .withColumn("rn", row_number().over(byV).cast("long"))
      .withColumn("n", count(lit(1)).over(perTy))
    val bp = rk.groupBy("event_type").agg(
      max(when(expr("rn = (1 * n + 3) DIV 4"), col("v"))).as("b1"),
      max(when(expr("rn = (2 * n + 3) DIV 4"), col("v"))).as("b2"),
      max(when(expr("rn = (3 * n + 3) DIV 4"), col("v"))).as("b3"))
    val sym = paa.join(broadcast(bp), "event_type") // types x 1 row
      .select(col("event_type"), col("f"),
        when(col("v") <= col("b1"), 0).when(col("v") <= col("b2"), 1)
          .when(col("v") <= col("b3"), 2).otherwise(3).as("sy"))
    val byF = Window.partitionBy("event_type").orderBy("f")
    val words = sym
      .withColumn("word", concat(col("sy").cast("string"),
        lead(col("sy"), 1).over(byF).cast("string"),
        lead(col("sy"), 2).over(byF).cast("string")))
      .withColumn("ok", lead(col("sy"), 2).over(byF))
      .filter(col("ok").isNotNull)
    val wc = words.groupBy("event_type", "word").agg(count(lit(1)).as("cnt"))
    val top = Window.partitionBy("event_type")
      .orderBy(col("cnt").desc, col("word").asc)
    wc.withColumn("rank", row_number().over(top).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("event_type"), col("word"), col("cnt").cast("long").as("cnt"),
        col("rank"))
  }

  val all: Seq[Q] =
    Seq(eventTransitions, ohlcBars, lastTouchAttribution, conversionTime,
      cusumChangepoint, pivotEvents, meltEvents, eventPaths, streakIslands,
      ewmaDaily, seasonalProfile, autocorr, stlDecompose, holtForecast,
      multiTouch, seasonalAnomaly, forecastBacktest, cohortLtv, saxMotifs,
      hwSeasonal)
}
