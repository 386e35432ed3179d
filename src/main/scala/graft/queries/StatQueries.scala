package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det.{davg, dsum}
import graft.engine.Tables.t
import graft.queries.SubPlans.{calendarCtes, typeGrid, typeGridCtes, zeroFilled}

/** Estimator-family queries (SURVEY §2.4 A5-A8, §2.11 K3/K4/K7/K8/K9) over
  * driver testdata. The covid-CSV golden parity lives in EstimatorsSpec; here
  * the same expressions run PER ENTITY (user) so the oracle can check them
  * and so the shape is the scale-out one: thousands of independent series
  * estimated in one pass, windows partitioned by user — never a global sort.
  */
object StatQueries {

  /** A5+A6/A7 — per-user mean-of-ratio estimator and closed-form
    * no-intercept least-squares slope sum(x*y)/sum(x^2) over the lag-diffed
    * daily series (reference main.py:63-104, testdata-shaped). */
  val estimatorSlopes: Q = Q(
    "q_estimator_slopes",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS a
      |  FROM events GROUP BY 1, 2),
      |diffed AS (
      |  SELECT user_id, day, a,
      |         a - LAG(a) OVER (PARTITION BY user_id ORDER BY day) AS da
      |  FROM daily)
      |SELECT user_id,
      |       CAST(SUM(CAST(da * a AS DECIMAL(38,6))) AS DOUBLE)
      |         / NULLIF(CAST(SUM(CAST(a * a AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS slope,
      |       CAST(SUM(CAST(FLOOR(da / NULLIF(a, 0.0) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 / COUNT(da / NULLIF(a, 0.0)) AS ratio_mean_1e6
      |FROM diffed WHERE da IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    // NULLIF mirrors Spark's non-ANSI division, which returns NULL for ANY
    // zero divisor: without it a user whose daily total hits exactly 0
    // would diverge (DuckDB IEEE gives inf/NaN, then the FLOOR..BIGINT cast
    // errors the whole oracle query) — a latent gate-breaker even though
    // the current testdata never produces a zero daily sum.
    val daily = t(s, dir, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(dsum(col("value")).as("a"))
    val w = Window.partitionBy("user_id").orderBy("day")
    // slope's products sit on the exact 4-dp grid (2-dp data), so the 6-dp
    // row quantization never rounds. The RATIO da/a is an arbitrary rational
    // though: it can land exactly ON a decimal-cast rounding boundary (e.g.
    // -1.8515625), where Spark (exact binary expansion) and DuckDB (shortest
    // decimal repr) round opposite ways — at ANY scale. So the ratio is
    // quantized with explicit IEEE ops instead: floor(x*1e6 + 0.5) is
    // bit-deterministic given identical input doubles, keeps the sum an
    // exact integer, and never touches either engine's decimal-cast
    // internals. (Half rounds toward +inf.) The quantization is part of the
    // column's CONTRACT, so the name carries it: `ratio_mean_1e6` is the
    // mean of per-row ratios each pre-rounded to the 1e-6 grid — up to
    // ~5e-7 from the unrounded mean — not an exact mean.
    daily
      .withColumn("da", col("a") - lag(col("a"), 1).over(w))
      .filter(col("da").isNotNull)
      .groupBy("user_id")
      .agg(
        (dsum(col("da") * col("a")) / dsum(col("a") * col("a"))).as("slope"),
        (sum(floor(col("da") / col("a") * 1000000.0 + 0.5)).cast("double")
          / 1000000.0 / count(col("da") / col("a"))).as("ratio_mean_1e6"))
  }

  /** K7/K8/K9 — per-entity time-varying SIR parameter estimation and R0
    * trajectory with the reference's epsilon clamps (C3 `greatest`,
    * main.py:550-556): synthetic compartments from the daily value series. */
  val r0Trajectory: Q = Q(
    "q_r0_trajectory",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS a
      |  FROM events GROUP BY 1, 2),
      |comp AS (
      |  SELECT user_id, day, a, a * 0.3 AS d, a * 0.2 AS r,
      |         1000000.0 - (a + a * 0.2 + a * 0.3) AS s
      |  FROM daily),
      |diffed AS (
      |  SELECT *,
      |         d - LAG(d) OVER w AS dd,
      |         r - LAG(r) OVER w AS dr,
      |         a - LAG(a) OVER w AS da
      |  FROM comp
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
      |SELECT user_id, day,
      |       dd / GREATEST(a, 0.00001) AS mu_t,
      |       ((1.0 / 4.5) * a - dr) / GREATEST(dr, 0.00001) AS alpha_t,
      |       (da / GREATEST(a, 1.0) + dd / GREATEST(a, 0.00001) + (1.0 / 4.5))
      |         / GREATEST(s, 0.00001) AS beta_t,
      |       ((da / GREATEST(a, 1.0) + dd / GREATEST(a, 0.00001) + (1.0 / 4.5))
      |         / GREATEST(s, 0.00001)) / (1.0 / 4.5) AS r0
      |FROM diffed WHERE dd IS NOT NULL
      |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    val gamma = lit(1.0 / 4.5)
    val eps = lit(0.00001)
    val daily = t(s, dir, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(dsum(col("value")).as("a"))
    val comp = daily.select(col("user_id"), col("day"), col("a"),
      (col("a") * 0.3).as("d"), (col("a") * 0.2).as("r"),
      (lit(1000000.0) - (col("a") + col("a") * 0.2 + col("a") * 0.3)).as("s"))
    val w = Window.partitionBy("user_id").orderBy("day")
    val diffed = comp
      .withColumn("dd", col("d") - lag(col("d"), 1).over(w))
      .withColumn("dr", col("r") - lag(col("r"), 1).over(w))
      .withColumn("da", col("a") - lag(col("a"), 1).over(w))
      .filter(col("dd").isNotNull)
    val muT = col("dd") / greatest(col("a"), eps)
    val betaT = (col("da") / greatest(col("a"), lit(1.0)) + muT + gamma) /
      greatest(col("s"), eps)
    diffed.select(col("user_id"), col("day"),
      muT.as("mu_t"),
      ((gamma * col("a") - col("dr")) / greatest(col("dr"), eps)).as("alpha_t"),
      betaT.as("beta_t"),
      (betaT / gamma).as("r0"))
  }

  /** A8/K6 — MSE between two row-aligned series (main.py:142-146), per
    * entity: the positional alignment join runs inside each user partition
    * (parallel across users — the 100-TB-safe form of J2). */
  val mseAligned: Q = Q(
    "q_mse_aligned",
    """WITH a AS (
      |  SELECT user_id, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT user_id, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE event_type = 'purchase')
      |SELECT a.user_id,
      |       CAST(SUM(CAST((a.value - b.value) * (a.value - b.value)
      |                     AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mse,
      |       COUNT(*) AS n_aligned
      |FROM a JOIN b ON a.user_id = b.user_id AND a.rn = b.rn
      |GROUP BY a.user_id
      |ORDER BY a.user_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    def side(tpe: String, alias: String) =
      ev.filter(col("event_type") === tpe)
        .select(col("user_id"), col("value").as(alias),
          row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")).as("rn"))
    val diff = col("click") - col("purchase")
    side("click", "click")
      .join(side("purchase", "purchase"), Seq("user_id", "rn"))
      .groupBy("user_id")
      .agg((dsum(diff * diff) / count(lit(1))).as("mse"),
        count(lit(1)).as("n_aligned"))
      .orderBy("user_id")
  }

  /** CLOSED-FORM TWO-FEATURE OLS — daily purchases regressed on daily
    * views and clicks with intercept, solved by the NORMAL EQUATIONS with
    * an exact 2×2 inversion over mean-cleared integer sums (the
    * multivariate extension of A6/A7's closed-form slope, main.py's
    * estimator family): with Sₐᵦ = n·Σab − Σa·Σb,
    *   β₁ = (S₂₂S₁ᵧ − S₁₂S₂ᵧ)/det, β₂ = (S₁₁S₂ᵧ − S₁₂S₁ᵧ)/det,
    *   det = S₁₁S₂₂ − S₁₂², α = (Σy − β₁Σx₁ − β₂Σx₂)/n.
    * All sums are exact DECIMAL(38,0)/HUGEINT; betas floor to ppm via
    * the +K·det offset (K = 10¹², slopes to ±10⁶ — both engines truncate,
    * the offset realizes floor on negative numerators); the intercept is
    * computed FROM the floored betas (a declared contract, ≤ 1 ppm·Σx/n
    * from the unrounded α). Collinear features (det = 0) yield NULL.
    * The series is the zero-filled calendar grid (q_autocorr's
    * convention).
    *
    * Headroom: numerators ~ (n²X²)² ⇒ exact through 38 digits while
    * n·X ≲ 10⁸ (X = peak daily count; rescale counts to kilo-units
    * upstream past that).
    *
    * Shape at 100 TB: one fact scan → map-side-combined daily
    * conditional counts; the calendar join, the moment aggregation, and
    * the solve all run over grid-bounded rows — a single scalar row out. */
  val ols2Daily: Q = Q(
    "q_ols2_daily",
    s"""WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
      |         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x1,
      |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x2
      |  FROM events GROUP BY 1),
      |$calendarCtes,
      |grid AS (
      |  SELECT cal.d, COALESCE(daily.y, 0) AS y,
      |         COALESCE(daily.x1, 0) AS x1, COALESCE(daily.x2, 0) AS x2
      |  FROM cal LEFT JOIN daily ON daily.d = cal.d),
      |st AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x2 AS HUGEINT)) AS s2,
      |         SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x1 AS HUGEINT) * x1) AS q11,
      |         SUM(CAST(x1 AS HUGEINT) * x2) AS q12,
      |         SUM(CAST(x2 AS HUGEINT) * x2) AS q22,
      |         SUM(CAST(x1 AS HUGEINT) * y) AS p1y,
      |         SUM(CAST(x2 AS HUGEINT) * y) AS p2y
      |  FROM grid),
      |f AS (
      |  SELECT n, s1, s2, sy,
      |         n * q11 - s1 * s1 AS a11, n * q12 - s1 * s2 AS a12,
      |         n * q22 - s2 * s2 AS a22,
      |         n * p1y - s1 * sy AS b1, n * p2y - s2 * sy AS b2
      |  FROM st),
      |g AS (
      |  SELECT n, s1, s2, sy,
      |         a11 * a22 - a12 * a12 AS det,
      |         a22 * b1 - a12 * b2 AS n1, a11 * b2 - a12 * b1 AS n2
      |  FROM f),
      |r AS (
      |  SELECT n, s1, s2, sy, det,
      |         CASE WHEN det = 0 THEN NULL
      |              ELSE (n1 * 1000000 + 1000000000000 * det) // det
      |                   - 1000000000000 END AS beta_view_ppm,
      |         CASE WHEN det = 0 THEN NULL
      |              ELSE (n2 * 1000000 + 1000000000000 * det) // det
      |                   - 1000000000000 END AS beta_click_ppm
      |  FROM g)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(beta_view_ppm AS BIGINT) AS beta_view_ppm,
      |       CAST(beta_click_ppm AS BIGINT) AS beta_click_ppm,
      |       CAST(CASE WHEN det = 0 THEN NULL
      |            ELSE (sy * 1000000 - beta_view_ppm * s1 - beta_click_ppm * s2
      |                  + 1000000000000 * n) // n - 1000000000000 END
      |            AS BIGINT) AS alpha_ppm
      |FROM r""".stripMargin) { (s, dir) =>
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x2"))
    val grid = zeroFilled(daily, Nil, Seq("y", "x1", "x2"))
      .select(col("y").cast("decimal(38,0)").as("y"),
        col("x1").cast("decimal(38,0)").as("x1"),
        col("x2").cast("decimal(38,0)").as("x2"))
    grid.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x1")).cast("decimal(38,0)").as("s1"),
      sum(col("x2")).cast("decimal(38,0)").as("s2"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(col("x1") * col("x1")).cast("decimal(38,0)").as("q11"),
      sum(col("x1") * col("x2")).cast("decimal(38,0)").as("q12"),
      sum(col("x2") * col("x2")).cast("decimal(38,0)").as("q22"),
      sum(col("x1") * col("y")).cast("decimal(38,0)").as("p1y"),
      sum(col("x2") * col("y")).cast("decimal(38,0)").as("p2y"))
      .select(col("n"), col("s1"), col("s2"), col("sy"),
        expr("n * q11 - s1 * s1").as("a11"),
        expr("n * q12 - s1 * s2").as("a12"),
        expr("n * q22 - s2 * s2").as("a22"),
        expr("n * p1y - s1 * sy").as("b1"),
        expr("n * p2y - s2 * sy").as("b2"))
      .select(col("n"), col("s1"), col("s2"), col("sy"),
        expr("a11 * a22 - a12 * a12").as("det"),
        expr("a22 * b1 - a12 * b2").as("n1"),
        expr("a11 * b2 - a12 * b1").as("n2"))
      .select(col("n"), col("s1"), col("s2"), col("sy"), col("det"),
        expr("""CASE WHEN det = 0 THEN NULL
               |     ELSE (n1 * 1000000 + 1000000000000 * det) DIV det
               |          - 1000000000000 END""".stripMargin)
          .as("beta_view_ppm"),
        expr("""CASE WHEN det = 0 THEN NULL
               |     ELSE (n2 * 1000000 + 1000000000000 * det) DIV det
               |          - 1000000000000 END""".stripMargin)
          .as("beta_click_ppm"))
      .select(col("n").cast("long").as("n_days"),
        col("beta_view_ppm").cast("long").as("beta_view_ppm"),
        col("beta_click_ppm").cast("long").as("beta_click_ppm"),
        expr("""CAST(CASE WHEN det = 0 THEN NULL
               |     ELSE (sy * 1000000 - beta_view_ppm * s1
               |           - beta_click_ppm * s2
               |           + 1000000000000 * n) DIV n - 1000000000000 END
               |     AS BIGINT)""".stripMargin).as("alpha_ppm"))
  }

  /** ONE-WAY ANOVA — does mean daily volume differ across event types?
    * The BALANCED decomposition (every type spans the same zero-filled
    * calendar grid of T days, so group sizes are equal by construction)
    * in fraction-cleared integers: with S_g = Σ_days x, Q = ΣΣx²,
    *   A = k·ΣS_g² − (ΣS_g)²  ( = kT·SSB — between-groups, cleared)
    *   B = T·Q − ΣS_g²        ( = T·SSW — within-groups, cleared)
    *   F = A·(N−k) / (k(k−1)·B),  η² = SSB/(SSB+SSW) = A / (A + k·B)
    * F in milli and η² in ppm by truncating division (nonnegative
    * numerators — floor ≡ truncate); all intermediates DECIMAL(38,0)/
    * HUGEINT. A constant corpus (B = 0) yields NULL by contract. The
    * hypothesis-testing tower's missing k-sample member next to
    * q_ks_drift (two-sample), q_drift_chisq (categorical) and
    * q_mann_whitney (rank two-sample).
    *
    * Headroom: A·(N−k)·10³ ≤ k³T³X²·10³ — exact through 38 digits for
    * T = 10⁴ days at X ≤ ~10⁹ daily events.
    *
    * Shape at 100 TB: one fact scan → (type, day) counts; per-type
    * sums/squares aggregate grid-bounded rows; one k-row reduction ends
    * it — a single scalar row out. */
  val anovaDaily: Q = Q(
    "q_anova_daily",
    s"""WITH $typeGridCtes,
      |pg AS (
      |  SELECT event_type, COUNT(*) AS t,
      |         SUM(CAST(x AS HUGEINT)) AS sg,
      |         SUM(CAST(x AS HUGEINT) * x) AS qg
      |  FROM grid GROUP BY event_type),
      |st AS (
      |  SELECT COUNT(*) AS k, MIN(t) AS t,
      |         SUM(sg * sg) AS ss2, SUM(sg) AS stot, SUM(qg) AS q
      |  FROM pg),
      |f AS (
      |  SELECT k, t, k * t AS n,
      |         k * ss2 - stot * stot AS a,
      |         t * q - ss2 AS b
      |  FROM st)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(t AS BIGINT) AS n_days,
      |       CAST(a AS BIGINT) AS ssb_num, CAST(b AS BIGINT) AS ssw_num,
      |       CASE WHEN b = 0 THEN NULL
      |            ELSE CAST((a * (n - k) * 1000) // (k * (k - 1) * b)
      |                      AS BIGINT) END AS f_milli,
      |       CASE WHEN a + k * b = 0 THEN NULL
      |            ELSE CAST((a * 1000000) // (a + k * b) AS BIGINT)
      |       END AS eta2_ppm
      |FROM f""".stripMargin) { (s, dir) =>
    val grid = typeGrid(s, dir)
      .select(col("event_type"), col("x").cast("decimal(38,0)").as("x"))
    grid.groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("t"),
        sum(col("x")).cast("decimal(38,0)").as("sg"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("qg"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("k"),
        min(col("t")).as("t"),
        sum(col("sg") * col("sg")).cast("decimal(38,0)").as("ss2"),
        sum(col("sg")).cast("decimal(38,0)").as("stot"),
        sum(col("qg")).cast("decimal(38,0)").as("q"))
      .select(col("k"), col("t"), expr("k * t").as("n"),
        expr("k * ss2 - stot * stot").as("a"),
        expr("t * q - ss2").as("b"))
      .select(col("k").cast("long").as("k_groups"),
        col("t").cast("long").as("n_days"),
        col("a").cast("long").as("ssb_num"),
        col("b").cast("long").as("ssw_num"),
        expr("""CASE WHEN b = 0 THEN NULL
               |     ELSE CAST((a * (n - k) * 1000) DIV (k * (k - 1) * b)
               |               AS BIGINT) END""".stripMargin).as("f_milli"),
        expr("""CASE WHEN a + k * b = 0 THEN NULL
               |     ELSE CAST((a * 1000000) DIV (a + k * b) AS BIGINT)
               |END""".stripMargin).as("eta2_ppm"))
  }

  val all: Seq[Q] =
    Seq(estimatorSlopes, r0Trajectory, mseAligned, ols2Daily, anovaDaily)
}
