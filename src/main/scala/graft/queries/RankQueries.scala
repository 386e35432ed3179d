package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SubPlans.{typeGrid, typeGridCtes}

/** Fold input for the Kendall pair counter: one aligned day of two series. */
final case class KtIn(type_a: String, type_b: String, rn: Long, xa: Long,
    xb: Long)

/** Fold input for the Theil-Sen estimator: one day of one series. */
final case class TsIn(event_type: String, i: Long, x: Long)

/** Fold output of the Theil-Sen estimator: one row per series. */
final case class TsOut(event_type: String, n_days: Long, n_pairs: Long,
    slope_micro: Long, intercept_micro: Long)

/** Rank and robust statistics over the per-type DAILY volume series — the
  * distribution-free complement of the moment statistics in
  * [[SequenceQueries]] (q_autocorr's Pearson ACF, q_holt_forecast's
  * least-squares-flavored smoothing). Rank methods are what a production
  * metrics platform reaches for when series carry spikes and heavy tails:
  * Spearman/Kendall dependence that ignores outlier magnitude, Theil-Sen
  * trend that a 50% contamination cannot move.
  *
  * All four queries share q_autocorr's ZERO-FILLED CALENDAR GRID convention
  * (gaps are real zeros) and its exactness posture: every statistic is
  * integer-exact (ppm / micro units, DECIMAL(38,0)/HUGEINT value trees,
  * floor realized on negative numerators via the +K·den offset — both
  * engines' integer division truncates toward zero). The ONE IEEE op
  * allowed is the final sqrt readout over an already-exact small integer
  * (the ProfileQueries KS convention), which is correctly rounded and
  * therefore engine-identical.
  *
  * The key overflow discipline: rank statistics are computed on CENTERED
  * DOUBLED RANKS c = 2·rank_avg − (n+1) ∈ [−(n−1), n−1] — bounded by the
  * CALENDAR length n, not by event counts — so numerator² · 10⁶ ≤ n⁶·10⁶
  * stays inside DECIMAL(38,0)/HUGEINT for n up to ~2·10⁵ days (547 years).
  * Raw-count moments (q_autocorr) cannot make that promise for a
  * two-series correlation, which is exactly why the lead-lag query here is
  * rank-based.
  */
object RankQueries {

  /** [[SubPlans.typeGridCtes]] + the centered doubled-rank transform: per type,
    * c = 2·rank_avg(x) − (n+1) where 2·rank_avg = 2·RANK() + ties − 1 is
    * the integer doubled mid-rank (fractional .5 average ranks ×2). The
    * rank-sum identity Σ rank_avg = n(n+1)/2 holds UNDER TIES, so Σc = 0
    * exactly and the Pearson-on-ranks numerators need no mean-clearing at
    * full-grid alignment. rn is the 1-based day index for lag alignment. */
  private val rankedCtes = typeGridCtes +
    """,
      |ranked AS (
      |  SELECT event_type, d,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
      |         CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
      |              + COUNT(*) OVER (PARTITION BY event_type, x) - 1
      |              - (1 + COUNT(*) OVER (PARTITION BY event_type))
      |              AS BIGINT) AS c
      |  FROM grid)""".stripMargin

  /** Spark twin of [[rankedCtes]]: adds rn (day index) and c (centered
    * doubled rank). Both windows are keyed by event_type — never a global
    * sort; the per-key frame is calendar-bounded. */
  private def rankedFrame(s: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("event_type").orderBy("d")
    val byX = Window.partitionBy("event_type").orderBy("x")
    val ties = Window.partitionBy("event_type", "x")
    val all = Window.partitionBy("event_type")
    typeGrid(s, dir).select(col("event_type"), col("d"),
      row_number().over(byDay).cast("long").as("rn"),
      (lit(2L) * rank().over(byX) + count(lit(1)).over(ties) - 1
        - (lit(1L) + count(lit(1)).over(all))).cast("long").as("c"))
  }

  /** SPEARMAN RANK CORRELATION MATRIX — ρ between every unordered pair of
    * event types' daily volume series, date-aligned over the shared
    * calendar grid. Because both series are centered doubled ranks over
    * the SAME full grid (Σc = 0 exactly, see [[rankedCtes]]), the Pearson
    * pieces collapse to raw sums: num = Σ cₐ·c_b, denₐ = Σ cₐ² — all
    * exact BIGINT. The contract statistic is rho2_signed_ppm =
    * sign(num) · ⌊num²·10⁶ / (denₐ·den_b)⌋ (exact integer, Cauchy-Schwarz
    * bounds it to ±10⁶); `rho` rides along as the single-IEEE-finish
    * readout sign·sqrt(rho2/10⁶) — sqrt over an exact integer ≤ 10⁶ is
    * correctly rounded, hence engine-identical. A constant series (all c
    * = 0) yields NULL by contract.
    *
    * Headroom: num²·10⁶ ≤ n⁶·10⁶ ⇒ exact through DECIMAL(38,0)/HUGEINT
    * for n ≤ ~2·10⁵ grid days (547 years).
    *
    * Shape at 100 TB: one fact scan → map-side-combined (type, day)
    * counts; ranks in calendar-bounded per-type windows; the pair meeting
    * is an equi-join on the DATE (k types × T days per side, k² rows per
    * day) feeding a k²-group aggregation — no shuffle grows faster than
    * the grid itself. */
  val spearmanCorr: Q = Q(
    "q_spearman_corr",
    s"""WITH $rankedCtes,
      |pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         CAST(a.c AS HUGEINT) AS ca, CAST(b.c AS HUGEINT) AS cb
      |  FROM ranked a JOIN ranked b
      |    ON a.d = b.d AND a.event_type < b.event_type),
      |st AS (
      |  SELECT type_a, type_b, COUNT(*) AS n,
      |         SUM(ca * cb) AS num,
      |         SUM(ca * ca) AS dena, SUM(cb * cb) AS denb
      |  FROM pr GROUP BY 1, 2)
      |SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
      |       CAST(num AS BIGINT) AS num,
      |       CAST(dena AS BIGINT) AS dena, CAST(denb AS BIGINT) AS denb,
      |       CASE WHEN dena = 0 OR denb = 0 THEN NULL
      |            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
      |                      * ((num * num * 1000000) // (dena * denb))
      |                      AS BIGINT) END AS rho2_signed_ppm,
      |       CASE WHEN dena = 0 OR denb = 0 THEN NULL
      |            ELSE (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
      |                 * sqrt(CAST((num * num * 1000000) // (dena * denb)
      |                             AS DOUBLE) / 1000000.0) END AS rho
      |FROM st ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
    val r = rankedFrame(s, dir)
    val a = r.select(col("event_type").as("type_a"), col("d"),
      col("c").cast("decimal(38,0)").as("ca"))
    val b = r.select(col("event_type").as("type_b"), col("d").as("db"),
      col("c").cast("decimal(38,0)").as("cb"))
    a.join(b, col("d") === col("db") && col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n"),
        sum(col("ca") * col("cb")).cast("decimal(38,0)").as("num"),
        sum(col("ca") * col("ca")).cast("decimal(38,0)").as("dena"),
        sum(col("cb") * col("cb")).cast("decimal(38,0)").as("denb"))
      .select(col("type_a"), col("type_b"), col("n").cast("long").as("n_days"),
        col("num").cast("long").as("num"),
        col("dena").cast("long").as("dena"),
        col("denb").cast("long").as("denb"),
        expr("""CASE WHEN dena = 0 OR denb = 0 THEN NULL
               |     ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
               |               * ((num * num * 1000000) DIV (dena * denb))
               |               AS BIGINT) END""".stripMargin)
          .as("rho2_signed_ppm"),
        expr("""CASE WHEN dena = 0 OR denb = 0 THEN NULL
               |     ELSE (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
               |          * sqrt(CAST((num * num * 1000000) DIV (dena * denb)
               |                      AS DOUBLE) / 1000000.0) END""".stripMargin)
          .as("rho"))
  }

  /** KENDALL RANK CORRELATION (τ-a) — concordant/discordant day-pair
    * counts between every unordered pair of event types' daily series,
    * with τ_a = (C − D)/n₀ in ppm (n₀ = n(n−1)/2; the tie-insensitive
    * variant — τ-b's denominator needs a sqrt over unbounded tie products,
    * so the exact contract emits C, D, and tie counts instead and τ-a as
    * the headline). Comparisons are SIGN-based (never a diff product), so
    * daily counts up to Long never overflow.
    *
    * The Spark side runs as the engine's sanctioned PER-KEY SEQUENTIAL
    * FOLD (groupByKey(type pair).flatMapGroups — the Sir.simulatePerKey /
    * q_holt_forecast posture): the O(T²) pair comparison happens in one
    * task's memory over the CALENDAR-BOUNDED series (T days — ~5·10⁷
    * comparisons per pair at a 30-year grid, millisecond-scale CPU),
    * which beats materializing a T²-row join shuffle; Knight's
    * O(T log T) merge-sort inversion count is the drop-in upgrade if T
    * ever warrants it. The DuckDB oracle IS the naive day-pair self-join
    * — correct at oracle scale (the q_bfs_hops contract).
    *
    * Floor on the negative numerator (C − D) is realized via the +K·den
    * offset (K = 10⁷ ≥ the ±10⁶ ppm range; both engines truncate toward
    * zero). */
  val kendallTau: Q = Q(
    "q_kendall_tau",
    s"""WITH $typeGridCtes,
      |g2 AS (
      |  SELECT event_type, d, x,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
      |  FROM grid),
      |al AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, a.rn,
      |         a.x AS xa, b.x AS xb
      |  FROM g2 a JOIN g2 b
      |    ON a.d = b.d AND a.event_type < b.event_type),
      |pp AS (
      |  SELECT u.type_a, u.type_b,
      |         CASE WHEN (u.xa > v.xa AND u.xb > v.xb)
      |                OR (u.xa < v.xa AND u.xb < v.xb) THEN 1 ELSE 0 END AS co,
      |         CASE WHEN (u.xa > v.xa AND u.xb < v.xb)
      |                OR (u.xa < v.xa AND u.xb > v.xb) THEN 1 ELSE 0 END AS di
      |  FROM al u JOIN al v
      |    ON u.type_a = v.type_a AND u.type_b = v.type_b AND u.rn < v.rn),
      |nd AS (SELECT type_a, type_b, COUNT(*) AS n FROM al GROUP BY 1, 2),
      |st AS (
      |  SELECT type_a, type_b, COUNT(*) AS n0,
      |         SUM(co) AS c, SUM(di) AS dd
      |  FROM pp GROUP BY 1, 2)
      |SELECT st.type_a, st.type_b, CAST(nd.n AS BIGINT) AS n_days,
      |       CAST(n0 AS BIGINT) AS n_pairs,
      |       CAST(c AS BIGINT) AS concordant, CAST(dd AS BIGINT) AS discordant,
      |       CAST(n0 - c - dd AS BIGINT) AS tied,
      |       CAST(((c - dd) * 1000000 + 10000000 * n0) // n0 - 10000000
      |            AS BIGINT) AS tau_a_ppm
      |FROM st JOIN nd ON nd.type_a = st.type_a AND nd.type_b = st.type_b
      |ORDER BY st.type_a, st.type_b""".stripMargin) { (s, dir) =>
    import s.implicits._
    val g = typeGrid(s, dir)
    val byDay = Window.partitionBy("event_type").orderBy("d")
    val g2 = g.withColumn("rn", row_number().over(byDay).cast("long"))
    val al = g2.select(col("event_type").as("type_a"), col("d"), col("rn"),
        col("x").as("xa"))
      .join(g2.select(col("event_type").as("type_b"), col("d").as("db"),
        col("x").as("xb")),
        col("d") === col("db") && col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("rn"), col("xa"), col("xb"))
      .as[KtIn]
    al.groupByKey(r => (r.type_a, r.type_b)).flatMapGroups {
      (key: (String, String), it: Iterator[KtIn]) =>
        val (ta, tb) = key
        val rows = it.toArray.sortBy(_.rn) // calendar-bounded
        var c = 0L; var d = 0L
        var i = 0
        while (i < rows.length) {
          var j = i + 1
          while (j < rows.length) {
            val sa = java.lang.Long.signum(rows(i).xa - rows(j).xa)
            val sb = java.lang.Long.signum(rows(i).xb - rows(j).xb)
            val p = sa * sb
            if (p > 0) c += 1 else if (p < 0) d += 1
            j += 1
          }
          i += 1
        }
        val n = rows.length.toLong
        val n0 = n * (n - 1) / 2
        Iterator((ta, tb, n, n0, c, d, n0 - c - d,
          Math.floorDiv((c - d) * 1000000L, n0)))
    }.toDF("type_a", "type_b", "n_days", "n_pairs", "concordant",
      "discordant", "tied", "tau_a_ppm")
      .orderBy("type_a", "type_b")
  }

  /** THEIL-SEN ROBUST TREND — per type, the median of all pairwise slopes
    * of the daily series (slope in micro-counts/day, floor division), and
    * the matching median intercept (median over days of x_i·10⁶ −
    * slope·i). The 29%-breakdown-point regression line: the trend
    * estimate outliers cannot move, which is what alerting thresholds
    * should be anchored to. The median is pinned POSITIONALLY — the
    * element at 1-based rank ⌊(m+1)/2⌋ of the sorted multiset (the LOW
    * median) — so both engines select the identical element with no
    * averaging (exactness) and no tie ambiguity (equal values are equal).
    *
    * Spark side: the per-key sequential fold (q_kendall_tau's posture) —
    * O(T²) slopes sorted in one task over the calendar-bounded series
    * (T = 10⁴ days ⇒ 5·10⁷ longs ≈ 400 MB peak per key; past that,
    * the known production fallback is slope sampling). The DuckDB oracle
    * is the naive pair self-join + positional rank selection.
    *
    * Floor on negative slopes via the +K·den offset with K = 10¹⁵
    * (covers daily counts to 10⁹) in HUGEINT; the JVM side uses
    * Math.floorDiv — identical floor semantics. */
  val theilSenSlope: Q = Q(
    "q_theilsen_slope",
    s"""WITH $typeGridCtes,
      |g2 AS (
      |  SELECT event_type, x,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1 AS i
      |  FROM grid),
      |sl AS (
      |  SELECT a.event_type,
      |         (CAST(b.x - a.x AS HUGEINT) * 1000000
      |            + CAST(1000000000000000 AS HUGEINT) * (b.i - a.i))
      |           // (b.i - a.i) - 1000000000000000 AS s
      |  FROM g2 a JOIN g2 b
      |    ON a.event_type = b.event_type AND b.i > a.i),
      |med AS (
      |  SELECT event_type, CAST(s AS BIGINT) AS slope_micro,
      |         CAST(n AS BIGINT) AS n_pairs
      |  FROM (SELECT event_type, s,
      |               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s) AS rn,
      |               COUNT(*) OVER (PARTITION BY event_type) AS n
      |        FROM sl)
      |  WHERE rn = (n + 1) // 2),
      |ic AS (
      |  SELECT g2.event_type,
      |         CAST(g2.x AS HUGEINT) * 1000000 - med.slope_micro * g2.i AS b
      |  FROM g2 JOIN med USING (event_type)),
      |imed AS (
      |  SELECT event_type, CAST(b AS BIGINT) AS intercept_micro,
      |         CAST(n AS BIGINT) AS n_days
      |  FROM (SELECT event_type, b,
      |               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b) AS rn,
      |               COUNT(*) OVER (PARTITION BY event_type) AS n
      |        FROM ic)
      |  WHERE rn = (n + 1) // 2)
      |SELECT med.event_type, imed.n_days, med.n_pairs,
      |       med.slope_micro, imed.intercept_micro
      |FROM med JOIN imed USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    import s.implicits._
    val byDay = Window.partitionBy("event_type").orderBy("d")
    val g2 = typeGrid(s, dir).select(col("event_type"),
      (row_number().over(byDay).cast("long") - 1).as("i"), col("x"))
      .as[TsIn]
    g2.groupByKey(_.event_type).mapGroups { (ty, it) =>
      val rows = it.toArray.sortBy(_.i) // calendar-bounded
      val n = rows.length
      val slopes = new Array[Long](n * (n - 1) / 2)
      var k = 0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          slopes(k) = Math.floorDiv((rows(j).x - rows(i).x) * 1000000L,
            rows(j).i - rows(i).i)
          k += 1; j += 1
        }
        i += 1
      }
      java.util.Arrays.sort(slopes)
      val slope = slopes((slopes.length + 1) / 2 - 1) // 1-based low median
      val ics = rows.map(r => r.x * 1000000L - slope * r.i).sorted
      val intercept = ics((ics.length + 1) / 2 - 1)
      TsOut(ty, n.toLong, slopes.length.toLong, slope, intercept)
    }.toDF()
      .select("event_type", "n_days", "n_pairs", "slope_micro",
        "intercept_micro")
      .orderBy("event_type")
  }

  /** LEAD-LAG RANK CROSS-CORRELATION — for every ORDERED pair of distinct
    * event types (a, b) and lag k ∈ [0, 7]: the Pearson correlation of
    * (cₐ at day t, c_b at day t+k) over the t-overlap, on the per-type
    * centered doubled ranks of [[rankedCtes]] — "does a's activity lead
    * b's by k days, monotonically?" (view → purchase latency, error →
    * churn). Rank transform is what makes the two-series correlation
    * EXACT at scale: raw-count numerators square past any fixed
    * precision, calendar-bounded ranks never do (the file-head overflow
    * discipline). Over a lag-truncated overlap the centering no longer
    * holds, so the full Pearson form runs: num = m·Σcₐc_b − ΣcₐΣc_b etc.
    * Contract statistic rho2_signed_ppm (exact); `rho` as the
    * single-IEEE-finish readout; is_best = 1 on each pair's
    * largest-|rho2| lag (smallest lag wins ties — deterministic).
    *
    * Shape at 100 TB: ranks per type (calendar-bounded windows), then an
    * equi-join on the DAY INDEX (b at rn = a.rn + k, 8 lag replicas of
    * the probe side) feeding a (k²·8)-group aggregation — linear in grid
    * days, never quadratic. */
  val rankXcorr: Q = Q(
    "q_rank_xcorr",
    s"""WITH $rankedCtes,
      |lg AS (SELECT UNNEST(generate_series(0, 7)) AS lag),
      |al AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, lg.lag,
      |         CAST(a.c AS HUGEINT) AS ca, CAST(b.c AS HUGEINT) AS cb
      |  FROM ranked a
      |  CROSS JOIN lg
      |  JOIN ranked b
      |    ON b.event_type <> a.event_type AND b.rn = a.rn + lg.lag),
      |st AS (
      |  SELECT type_a, type_b, lag, COUNT(*) AS m,
      |         SUM(ca) AS sa, SUM(cb) AS sb, SUM(ca * cb) AS p,
      |         SUM(ca * ca) AS qa, SUM(cb * cb) AS qb
      |  FROM al GROUP BY 1, 2, 3),
      |f AS (
      |  SELECT type_a, type_b, lag, m,
      |         m * p - sa * sb AS num,
      |         m * qa - sa * sa AS dena, m * qb - sb * sb AS denb
      |  FROM st),
      |r AS (
      |  SELECT type_a, type_b, lag, m,
      |         CASE WHEN dena <= 0 OR denb <= 0 THEN NULL
      |              ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END)
      |                   * ((num * num * 1000000) // (dena * denb))
      |         END AS rho2s
      |  FROM f)
      |SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag,
      |       CAST(m AS BIGINT) AS n_overlap,
      |       CAST(rho2s AS BIGINT) AS rho2_signed_ppm,
      |       CASE WHEN rho2s IS NULL THEN NULL
      |            ELSE (CASE WHEN rho2s < 0 THEN -1.0 ELSE 1.0 END)
      |                 * sqrt(CAST(ABS(rho2s) AS DOUBLE) / 1000000.0)
      |       END AS rho,
      |       CAST(CASE WHEN ROW_NUMBER() OVER (
      |                        PARTITION BY type_a, type_b
      |                        ORDER BY COALESCE(ABS(rho2s), -1) DESC, lag) = 1
      |                 THEN 1 ELSE 0 END AS BIGINT) AS is_best
      |FROM r ORDER BY type_a, type_b, lag""".stripMargin) { (s, dir) =>
    val r = rankedFrame(s, dir)
    val lags = s.range(0, 8).select(col("id").as("lag"))
    val a = r.select(col("event_type").as("type_a"), col("rn"),
      col("c").cast("decimal(38,0)").as("ca"))
    val b = r.select(col("event_type").as("type_b"), col("rn").as("rnb"),
      col("c").cast("decimal(38,0)").as("cb"))
    val st = a.crossJoin(broadcast(lags)) // 8-row lag grid per probe row
      .join(b, col("type_b") =!= col("type_a") &&
        col("rnb") === col("rn") + col("lag"))
      .groupBy("type_a", "type_b", "lag")
      .agg(count(lit(1)).as("m"),
        sum(col("ca")).cast("decimal(38,0)").as("sa"),
        sum(col("cb")).cast("decimal(38,0)").as("sb"),
        sum(col("ca") * col("cb")).cast("decimal(38,0)").as("p"),
        sum(col("ca") * col("ca")).cast("decimal(38,0)").as("qa"),
        sum(col("cb") * col("cb")).cast("decimal(38,0)").as("qb"))
    val f = st.select(col("type_a"), col("type_b"), col("lag"), col("m"),
      expr("CAST(m AS DECIMAL(38,0)) * p - sa * sb").as("num"),
      expr("CAST(m AS DECIMAL(38,0)) * qa - sa * sa").as("dena"),
      expr("CAST(m AS DECIMAL(38,0)) * qb - sb * sb").as("denb"))
    val rr = f.select(col("type_a"), col("type_b"), col("lag"), col("m"),
      expr("""CASE WHEN dena <= 0 OR denb <= 0 THEN NULL
             |     ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END)
             |          * ((num * num * 1000000) DIV (dena * denb))
             |END""".stripMargin).as("rho2s"))
    val best = Window.partitionBy("type_a", "type_b")
      .orderBy(coalesce(abs(col("rho2s")), lit(-1)).desc, col("lag").asc)
    rr.select(col("type_a"), col("type_b"), col("lag").cast("long").as("lag"),
      col("m").cast("long").as("n_overlap"),
      col("rho2s").cast("long").as("rho2_signed_ppm"),
      expr("""CASE WHEN rho2s IS NULL THEN NULL
             |     ELSE (CASE WHEN rho2s < 0 THEN -1.0 ELSE 1.0 END)
             |          * sqrt(CAST(ABS(rho2s) AS DOUBLE) / 1000000.0)
             |END""".stripMargin).as("rho"),
      when(row_number().over(best) === 1, 1L).otherwise(0L).as("is_best"))
  }

  /** MANN-WHITNEY U — the rank-based two-sample test between every
    * unordered pair of event types' daily volumes: pool the two series,
    * rank the POOLED multiset with doubled mid-ranks (ties split evenly,
    * the file-head convention), and read off the doubled U statistic
    * 2U_a = ΣR2_a − 2·n_a(n_a+1)/2 = R2_a − n_a(n_a+1), which counts
    * (a > b) pairs twice and ties once — exact integers throughout. The
    * headline readout is the COMMON-LANGUAGE EFFECT SIZE
    * P(a > b) + ½P(a = b) = U_a/(n_a·n_b) in ppm: "on a random day pair,
    * how often is a busier than b?" — the distribution-free answer to
    * "did the error stream run hotter than the purchase stream?", robust
    * to the spikes that wreck a t-test. u2_a + u2_b = 2·n_a·n_b rides as
    * the built-in identity check.
    *
    * Shape at 100 TB: the pooled ranking runs per PAIR over 2T
    * calendar-bounded rows (k² pairs × 2T — grid-sized, keyed windows);
    * one aggregation per (pair, side) ends it. */
  val mannWhitney: Q = Q(
    "q_mann_whitney",
    s"""WITH $typeGridCtes,
      |tp AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb
      |  FROM (SELECT DISTINCT event_type FROM grid) a
      |  JOIN (SELECT DISTINCT event_type FROM grid) b
      |    ON a.event_type < b.event_type),
      |pool AS (
      |  SELECT tp.ta, tp.tb, 0 AS side, g.x
      |  FROM tp JOIN grid g ON g.event_type = tp.ta
      |  UNION ALL
      |  SELECT tp.ta, tp.tb, 1 AS side, g.x
      |  FROM tp JOIN grid g ON g.event_type = tp.tb),
      |rk AS (
      |  SELECT ta, tb, side,
      |         2 * RANK() OVER (PARTITION BY ta, tb ORDER BY x)
      |           + COUNT(*) OVER (PARTITION BY ta, tb, x) - 1 AS r2
      |  FROM pool),
      |st AS (
      |  SELECT ta, tb, side, COUNT(*) AS n, SUM(r2) AS sr2
      |  FROM rk GROUP BY ta, tb, side),
      |u AS (
      |  SELECT a.ta, a.tb, a.n AS n_a, b.n AS n_b,
      |         a.sr2 - a.n * (a.n + 1) AS u2_a,
      |         b.sr2 - b.n * (b.n + 1) AS u2_b
      |  FROM st a JOIN st b
      |    ON a.ta = b.ta AND a.tb = b.tb AND a.side = 0 AND b.side = 1)
      |SELECT ta AS type_a, tb AS type_b, CAST(n_a AS BIGINT) AS n_days,
      |       CAST(u2_a AS BIGINT) AS u2_a, CAST(u2_b AS BIGINT) AS u2_b,
      |       CAST(u2_a * 1000000 // (2 * n_a * n_b) AS BIGINT) AS cles_ppm
      |FROM u ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
    val g = typeGrid(s, dir)
    val ty = g.select("event_type").distinct()
    val tp = ty.select(col("event_type").as("ta"))
      .join(broadcast(ty.select(col("event_type").as("tb"))),
        col("ta") < col("tb"))
    val pool = tp.join(g, col("event_type") === col("ta"))
      .select(col("ta"), col("tb"), lit(0).as("side"), col("x"))
      .unionAll(tp.join(g, col("event_type") === col("tb"))
        .select(col("ta"), col("tb"), lit(1).as("side"), col("x")))
    val byX = Window.partitionBy("ta", "tb").orderBy("x")
    val ties = Window.partitionBy("ta", "tb", "x")
    val rk = pool.select(col("ta"), col("tb"), col("side"),
      (lit(2L) * rank().over(byX) + count(lit(1)).over(ties) - 1).as("r2"))
    val st = rk.groupBy("ta", "tb", "side")
      .agg(count(lit(1)).as("n"), sum(col("r2")).as("sr2"))
    val a = st.filter(col("side") === 0).select(col("ta"), col("tb"),
      col("n").as("n_a"), (col("sr2") - col("n") * (col("n") + 1)).as("u2_a"))
    val b = st.filter(col("side") === 1).select(col("ta").as("tb2"),
      col("tb").as("tb3"), col("n").as("n_b"),
      (col("sr2") - col("n") * (col("n") + 1)).as("u2_b"))
    a.join(b, col("ta") === col("tb2") && col("tb") === col("tb3"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_a").cast("long").as("n_days"),
        col("u2_a").cast("long").as("u2_a"),
        col("u2_b").cast("long").as("u2_b"),
        expr("CAST(u2_a * 1000000 DIV (2 * n_a * n_b) AS BIGINT)")
          .as("cles_ppm"))
  }

  val all: Seq[Q] =
    Seq(spearmanCorr, kendallTau, theilSenSlope, rankXcorr, mannWhitney)
}
