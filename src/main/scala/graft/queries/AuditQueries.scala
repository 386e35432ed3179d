package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables.t
import graft.functions.Text

/** Data-quality and experimentation AUDITS — the governance queries a
  * 100-TB platform schedules against every managed table: referential
  * integrity across the star schema's foreign-key edges, fact-vs-rollup
  * reconciliation, and deterministic A/B experiment readout. Engine-own
  * surface (SURVEY §7.5 spirit; the reference's only audit is a null
  * inspection, main.py:74-88).
  *
  * Determinism: integrity counts are integers; reconciliation totals use
  * the engine's Det decimal-sum rule so the float sums hash-match; the A/B
  * assignment is the md5-32 content hash (the q_train_split convention) —
  * reproducible in any engine, the property a real experiment system
  * needs so a user's arm never flips between runs.
  */
object AuditQueries {

  /** FOREIGN-KEY INTEGRITY AUDIT — one row per FK edge of the star
    * schema: child rows, orphan child rows (no parent), and distinct
    * orphan keys. The dangling-reference detector every warehouse runs
    * after each load; all four edges audited in ONE query so the report
    * is a single artifact.
    *
    * Shape at 100 TB: each edge is a LEFT ANTI join on the key — the
    * parent side is its key projection only (column-pruned at the scan),
    * dims broadcast, the two counts fold in one aggregation per edge.
    * Nothing wide ever shuffles. */
  val fkIntegrity: Q = {
    val edges = Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
    def edgeSql(e: (String, String, String, String, String)) = {
      val (name, child, ck, parent, pk) = e
      s"""SELECT '$name' AS fk_edge,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM $child) AS n_child_rows,
         |       CAST(COUNT(*) AS BIGINT) AS n_orphan_rows,
         |       CAST(COUNT(DISTINCT c.$ck) AS BIGINT) AS n_orphan_keys
         |FROM $child c LEFT JOIN $parent p ON p.$pk = c.$ck
         |WHERE p.$pk IS NULL""".stripMargin
    }
    Q(
      "q_fk_integrity",
      edges.map(edgeSql).mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")) {
      (s, dir) =>
        def edgeDf(e: (String, String, String, String, String)): DataFrame = {
          val (name, child, ck, parent, pk) = e
          val c = t(s, dir, child).select(col(ck))
          val orphans = c.join(broadcast(t(s, dir, parent).select(col(pk))),
            col(ck) === col(pk), "left_anti")
          c.agg(count(lit(1)).as("n_child_rows"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphan_rows"),
              countDistinct(col(ck)).as("n_orphan_keys")))
            .select(lit(name).as("fk_edge"), col("n_child_rows"),
              col("n_orphan_rows"), col("n_orphan_keys"))
        }
        edges.map(edgeDf).reduce(_ unionAll _)
    }
  }

  /** FACT-vs-ROLLUP RECONCILIATION — per order, the lineitem-derived
    * charge total `sum(extprice * (1-disc) * (1+tax))` against the
    * order-header o_totalprice, with the discrepancy in exact cents and
    * the line count (0-line orders included via the LEFT join): the
    * consistency audit that catches partial loads, double-applied deltas,
    * and drifted denormalizations between a fact table and its rollup.
    *
    * Determinism: each per-line charge is one IEEE double product
    * (identical in both engines); the per-order sum goes through the
    * engine's DECIMAL(38,6) exact-sum rule (order-independent), and the
    * discrepancy is reported as ROUND(|diff| * 100) integer cents.
    *
    * Shape at 100 TB: one map-side-combined aggregation of the fact table
    * on its natural key, then one keyed equi-join to the header — both
    * sides already partitioned by the same key in a bucketed layout, so
    * the join is co-located; no window, no second pass. */
  val orderReconcile: Q = Q(
    "q_order_reconcile",
    """WITH li AS (
      |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
      |                       AS DECIMAL(38,6))) AS DOUBLE) AS computed_total
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o.o_orderkey, COALESCE(li.n_lines, 0) AS n_lines,
      |       o.o_totalprice, li.computed_total,
      |       CAST(ROUND(ABS(o.o_totalprice - COALESCE(li.computed_total, 0.0)) * 100)
      |            AS BIGINT) AS diff_cents
      |FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
      |ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
    val charge = col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
      (lit(1.0) + col("l_tax"))
    val li = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        graft.engine.Det.dsum(charge).as("computed_total"))
    t(s, dir, "orders")
      .join(li, col("l_orderkey") === col("o_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        col("o_totalprice"), col("computed_total"),
        round(abs(col("o_totalprice") - coalesce(col("computed_total"), lit(0.0))) * 100)
          .cast("long").as("diff_cents"))
  }

  /** A/B EXPERIMENT READOUT — users deterministically hash-split into two
    * arms (md5-32 of "exp1:"+user_id, mod 2 — the same content-hash
    * assignment rule as q_train_split, so an arm never flips between
    * runs or engines), conversion = at least one purchase event, and the
    * readout is one row: per-arm users/conversions, conversion rates and
    * relative lift in exact ppm integers, and the 2x2 chi-square statistic
    * `n*(ad-bc)^2 / (margin products)` as ONE IEEE division of two exactly-
    * computed integer operands (the q_kmv_distinct determinism pattern —
    * both operands stay under 2^53 while conversions < ~9e7 per arm; past
    * that, promote the numerator to DECIMAL(38,0) before the division).
    * Same headroom rule for lift_ppm: its numerator
    * `conv_treat * n_control * 1000000` stays in BIGINT while
    * conv_treat * n_control < ~9.2e12 (e.g. 3e6 conversions x 3e6 users
    * per arm) — past that, promote to DECIMAL(38,0) in BOTH engines
    * before the integer division (with ANSI off, Spark would silently
    * wrap; DuckDB would error). Zero-conversion edge: conv_control = 0
    * makes lift_ppm NULL (division by zero under integer DIV) and an
    * empty arm makes its rate NULL — NULL here means "no readout", the
    * q_basket_rules convention, and both engines agree on it.
    *
    * Shape at 100 TB: one distinct + one filtered distinct on the user
    * key (map-side combined), one broadcast-joined membership flag, then
    * a 2-row aggregation folded to a single row. The raw event stream is
    * touched exactly twice, never joined against itself. */
  val abLift: Q = Q(
    "q_ab_lift",
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS arm
      |  FROM (SELECT DISTINCT user_id FROM events)),
      |conv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |arms AS (
      |  SELECT u.arm, CAST(COUNT(*) AS BIGINT) AS n_users,
      |         CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
      |  FROM u LEFT JOIN conv c ON c.user_id = u.user_id
      |  GROUP BY u.arm),
      |wide AS (
      |  SELECT MAX(CASE WHEN arm = 0 THEN n_users END) AS n_control,
      |         MAX(CASE WHEN arm = 0 THEN n_conv END) AS conv_control,
      |         MAX(CASE WHEN arm = 1 THEN n_users END) AS n_treat,
      |         MAX(CASE WHEN arm = 1 THEN n_conv END) AS conv_treat
      |  FROM arms),
      |d AS (
      |  SELECT *, conv_control * (n_treat - conv_treat)
      |            - conv_treat * (n_control - conv_control) AS adbc
      |  FROM wide)
      |SELECT n_control, conv_control, n_treat, conv_treat,
      |       conv_control * 1000000 // n_control AS rate_control_ppm,
      |       conv_treat * 1000000 // n_treat AS rate_treat_ppm,
      |       conv_treat * n_control * 1000000 // (conv_control * n_treat) AS lift_ppm,
      |       CAST((n_control + n_treat) * adbc * adbc AS DOUBLE)
      |       / CAST((conv_control + conv_treat)
      |              * ((n_control - conv_control) + (n_treat - conv_treat))
      |              * n_control * n_treat AS DOUBLE) AS chi2
      |FROM d""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val u = ev.select(col("user_id")).distinct()
      .select(col("user_id"),
        (Text.md5Hash32(concat(lit("exp1:"), col("user_id").cast("string"))) % 2)
          .as("arm"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().withColumn("is_c", lit(true))
    val arms = u.join(broadcast(conv), Seq("user_id"), "left")
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("is_c").isNotNull, 1).otherwise(0)).cast("long").as("n_conv"))
    arms.agg(
        max(when(col("arm") === 0, col("n_users"))).as("n_control"),
        max(when(col("arm") === 0, col("n_conv"))).as("conv_control"),
        max(when(col("arm") === 1, col("n_users"))).as("n_treat"),
        max(when(col("arm") === 1, col("n_conv"))).as("conv_treat"))
      .withColumn("adbc",
        expr("conv_control * (n_treat - conv_treat) - conv_treat * (n_control - conv_control)"))
      .select(col("n_control"), col("conv_control"), col("n_treat"), col("conv_treat"),
        expr("conv_control * 1000000 DIV n_control").as("rate_control_ppm"),
        expr("conv_treat * 1000000 DIV n_treat").as("rate_treat_ppm"),
        expr("conv_treat * n_control * 1000000 DIV (conv_control * n_treat)")
          .as("lift_ppm"),
        (expr("(n_control + n_treat) * adbc * adbc").cast("double") /
          expr("""(conv_control + conv_treat)
            * ((n_control - conv_control) + (n_treat - conv_treat))
            * n_control * n_treat""").cast("double")).as("chi2"))
  }

  /** RFM SEGMENTATION — every purchasing user scored on Recency /
    * Frequency / Monetary quartiles (the classic CRM/marketing
    * segmentation a warehouse recomputes nightly): days since last
    * purchase as of the log's end, purchase count, and exact spend in
    * cents, each cut at the population's own p25/p50/p75 into a 1-4
    * score, composed into the 111-444 RFM cell. Recency scores INVERTED
    * (recent = high), the standard convention.
    *
    * Determinism: recency is integer epoch-day arithmetic; spend sums
    * integer cents (no float sum at all); the quartile thresholds
    * interpolate over integers (Spark `percentile` == DuckDB
    * `quantile_cont`), and each score is 1 + three exact long-vs-double
    * comparisons — so every output column is an integer.
    *
    * Shape at 100 TB: one map-side-combined per-user aggregation of the
    * purchase slice, one 1-row anchor broadcast, one 1-row threshold
    * broadcast joined back — the raw event stream is scanned twice
    * (anchor + slice), never shuffled wide. */
  val rfmSegments: Q = Q(
    "q_rfm_segments",
    """WITH p AS (
      |  SELECT user_id, MAX(ts) AS last_ts, CAST(COUNT(*) AS BIGINT) AS freq,
      |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |a AS (SELECT MAX(ts) AS anchor FROM events),
      |m AS (
      |  SELECT user_id,
      |         (epoch_us(a.anchor) - epoch_us(p.last_ts)) // 86400000000 AS recency_days,
      |         freq, monetary_cents
      |  FROM p, a),
      |q AS (
      |  SELECT quantile_cont(recency_days, 0.25) AS r25,
      |         quantile_cont(recency_days, 0.5) AS r50,
      |         quantile_cont(recency_days, 0.75) AS r75,
      |         quantile_cont(freq, 0.25) AS f25,
      |         quantile_cont(freq, 0.5) AS f50,
      |         quantile_cont(freq, 0.75) AS f75,
      |         quantile_cont(monetary_cents, 0.25) AS m25,
      |         quantile_cont(monetary_cents, 0.5) AS m50,
      |         quantile_cont(monetary_cents, 0.75) AS m75
      |  FROM m)
      |SELECT m.user_id, m.recency_days, m.freq, m.monetary_cents,
      |       CAST(1 + (CASE WHEN m.recency_days < q.r75 THEN 1 ELSE 0 END)
      |              + (CASE WHEN m.recency_days < q.r50 THEN 1 ELSE 0 END)
      |              + (CASE WHEN m.recency_days < q.r25 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
      |       CAST(1 + (CASE WHEN m.freq > q.f25 THEN 1 ELSE 0 END)
      |              + (CASE WHEN m.freq > q.f50 THEN 1 ELSE 0 END)
      |              + (CASE WHEN m.freq > q.f75 THEN 1 ELSE 0 END) AS BIGINT) AS f_score,
      |       CAST(1 + (CASE WHEN m.monetary_cents > q.m25 THEN 1 ELSE 0 END)
      |              + (CASE WHEN m.monetary_cents > q.m50 THEN 1 ELSE 0 END)
      |              + (CASE WHEN m.monetary_cents > q.m75 THEN 1 ELSE 0 END) AS BIGINT) AS m_score
      |FROM m, q ORDER BY m.user_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(col("ts")).as("last_ts"),
        count(lit(1)).as("freq"),
        sum(round(col("value") * 100).cast("long")).cast("long")
          .as("monetary_cents"))
    val anchor = ev.agg(max(col("ts")).as("anchor"))
    val m = p.crossJoin(broadcast(anchor)) // 1-row anchor
      .select(col("user_id"),
        expr("(unix_micros(anchor) - unix_micros(last_ts)) DIV 86400000000")
          .as("recency_days"),
        col("freq"), col("monetary_cents"))
    val q = m.agg(
      percentile(col("recency_days"), lit(0.25)).as("r25"),
      percentile(col("recency_days"), lit(0.5)).as("r50"),
      percentile(col("recency_days"), lit(0.75)).as("r75"),
      percentile(col("freq"), lit(0.25)).as("f25"),
      percentile(col("freq"), lit(0.5)).as("f50"),
      percentile(col("freq"), lit(0.75)).as("f75"),
      percentile(col("monetary_cents"), lit(0.25)).as("m25"),
      percentile(col("monetary_cents"), lit(0.5)).as("m50"),
      percentile(col("monetary_cents"), lit(0.75)).as("m75"))
    def score(x: String, lo: String, mid: String, hi: String,
        invert: Boolean): org.apache.spark.sql.Column = {
      def hit(c: String) =
        when(if (invert) col(x) < col(c) else col(x) > col(c), 1L).otherwise(0L)
      lit(1L) + (if (invert) hit(hi) + hit(mid) + hit(lo)
                 else hit(lo) + hit(mid) + hit(hi))
    }
    m.crossJoin(broadcast(q)) // 1-row thresholds
      .select(col("user_id"), col("recency_days"), col("freq"),
        col("monetary_cents"),
        score("recency_days", "r25", "r50", "r75", invert = true).as("r_score"),
        score("freq", "f25", "f50", "f75", invert = false).as("f_score"),
        score("monetary_cents", "m25", "m50", "m75", invert = false).as("m_score"))
      .orderBy("user_id")
  }

  /** BENFORD FIRST-DIGIT GATE — the classic fabricated-data detector
    * (Benford 1938; the audit standard for financial fact columns): the
    * leading significant digit of o_totalprice per order priority, scored
    * against Benford's law P(d) = log10(1 + 1/d) with a chi-square-shaped
    * integer divergence Σ (obs_ppm − exp_ppm)² / exp_ppm. The nine
    * expected masses are exact ppm LITERALS (301030 … 45757 — the
    * enumerable-domain trick of the HLL ln table: no libm in either
    * engine), digits come from the cents integer's decimal string, and
    * every (group, digit) cell exists via an explicit 1..9 grid so a
    * MISSING digit contributes its full (0 − exp)²/exp penalty — the
    * signature of truncated or synthesized books.
    *
    * Note the testdata's uniform-ish synthetic prices FAIL this gate by
    * construction (stat ≈ 4e5 ppm vs ~0 for conforming data) — that is
    * the gate working; AuditSpec pins a crafted Benford-conforming series
    * passing and the uniform row flagging.
    *
    * Shape at 100 TB: one fact scan → (group, digit) counts (map-side
    * combined, ≤ 9 rows per group), a 9-row broadcast grid, and a
    * group-sized aggregation. All integer. */
  val benfordGate: Q = {
    def expCaseOf(d: String) = s"CASE $d WHEN 1 THEN 301030 WHEN 2 THEN 176091 " +
      "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
      "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 " +
      "ELSE 45757 END"
    val expCase = expCaseOf("digit")
    Q(
      "q_benford_gate",
      s"""WITH d AS (
        |  SELECT o_orderpriority AS grp,
        |         CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |cnt AS (SELECT grp, digit, COUNT(*) AS n FROM d GROUP BY grp, digit),
        |tot AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS nt FROM cnt GROUP BY grp),
        |dig AS (SELECT UNNEST(generate_series(1, 9)) AS digit),
        |g AS (
        |  SELECT t.grp, t.nt, dig.digit,
        |         COALESCE(c.n, 0) * 1000000 // t.nt AS obs_ppm,
        |         ${expCaseOf("dig.digit")} AS exp_ppm
        |  FROM tot t CROSS JOIN dig
        |  LEFT JOIN cnt c ON c.grp = t.grp AND c.digit = dig.digit)
        |SELECT grp AS o_orderpriority, MIN(nt) AS n_orders,
        |       CAST(SUM((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) // exp_ppm)
        |            AS BIGINT) AS benford_stat,
        |       CAST(MAX(CASE WHEN digit = 1 THEN obs_ppm ELSE 0 END) AS BIGINT)
        |         AS obs_d1_ppm,
        |       SUM((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) // exp_ppm) > 200000
        |         AS flagged
        |FROM g GROUP BY grp ORDER BY grp""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"),
          substring(round(col("o_totalprice") * 100).cast("long")
            .cast("string"), 1, 1).cast("long").as("digit"))
      val cnt = d.groupBy("grp", "digit").agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("grp").agg(sum(col("n")).as("nt"))
      val dig = s.range(1, 10).select(col("id").as("digit"))
      val g = tot.crossJoin(broadcast(dig)) // 9-row digit grid per group
        .join(cnt, Seq("grp", "digit"), "left")
        .select(col("grp"), col("nt"), col("digit"),
          expr("COALESCE(n, 0) * 1000000 DIV nt").as("obs_ppm"),
          expr(expCase).as("exp_ppm"))
      g.groupBy("grp")
        .agg(min(col("nt")).as("n_orders"),
          sum(expr("(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) DIV exp_ppm"))
            .cast("long").as("benford_stat"),
          max(when(col("digit") === 1, col("obs_ppm")).otherwise(0L))
            .cast("long").as("obs_d1_ppm"),
          (sum(expr("(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) DIV exp_ppm"))
            > 200000L).as("flagged"))
        .withColumnRenamed("grp", "o_orderpriority")
        .orderBy("o_orderpriority")
    }
  }

  /** DATA-CONTRACT EXPECTATIONS SUITE — the declarative validation report
    * (the Great-Expectations / dbt-test shape) a platform runs after every
    * load: one row per rule with row count, violation count, and verdict.
    * Rule kinds covered: `not_null`, `unique` (single and composite key),
    * `accepted_values`, and `range` — the four that make up ~all of a real
    * contract file. The synthetic lineitem table genuinely violates its
    * composite-key rule (duplicate (l_orderkey, l_linenumber) pairs exist
    * by construction), so the report demonstrably CATCHES a failure rather
    * than rubber-stamping green.
    *
    * Shape at 100 TB: all rules of one table fuse into ONE pruned-scan
    * aggregation (count/sum-of-when/count-distinct computed together,
    * map-side combined), then `stack` unpivots the 1-row aggregate into
    * rule rows — 4 table scans total for 10 rules, each reading only the
    * contracted columns, and the output is rule-count-sized. Adding a rule
    * to an already-scanned table costs zero extra scans.
    *
    * Determinism: counts are exact integers; `unique` violations are
    * count(rows with a fully non-null key) − count(DISTINCT key) — extra
    * copies beyond each key's first, NULL-keyed rows exempt (the dbt
    * convention; the not_null rule owns those). The composite key is
    * counted as a true (orderkey, linenumber) pair distinct — no
    * arithmetic encoding, so no undeclared 0–9 linenumber invariant
    * (Spark's multi-column COUNT(DISTINCT a, b) skips any-null rows,
    * which the oracle mirrors with an explicit CASE guard around the
    * struct). */
  val expectations: Q = Q(
    "q_expectations",
    """WITH o AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
      |         COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uq,
      |         SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
      |                    OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS v_rng,
      |         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
      |                    '4-NOT SPECIFIED','5-LOW') THEN 0 ELSE 1 END) AS v_av
      |  FROM orders),
      |c AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE',
      |                    'HOUSEHOLD','MACHINERY') THEN 0 ELSE 1 END) AS v_av
      |  FROM customer),
      |l AS (
      |  SELECT COUNT(*) AS n,
      |         COUNT(CASE WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
      |                    THEN 1 END)
      |           - COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
      |                                  AND l_linenumber IS NOT NULL
      |                                 THEN (l_orderkey, l_linenumber) END) AS v_uq,
      |         SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
      |                    OR l_quantity > 50 THEN 1 ELSE 0 END) AS v_q,
      |         SUM(CASE WHEN l_discount IS NULL OR l_discount < 0
      |                    OR l_discount > 1 THEN 1 ELSE 0 END) AS v_d
      |  FROM lineitem),
      |e AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(CASE WHEN event_type IN ('view','click','signup','purchase',
      |                    'error') THEN 0 ELSE 1 END) AS v_av,
      |         SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS v_nn
      |  FROM events),
      |r AS (
      |  SELECT 'orders.o_orderkey' AS target, 'not_null' AS rule,
      |         n, v_nn AS n_violations FROM o
      |  UNION ALL SELECT 'orders.o_orderkey', 'unique', n, v_uq FROM o
      |  UNION ALL SELECT 'orders.o_totalprice', 'range[0,1000000]', n, v_rng FROM o
      |  UNION ALL SELECT 'orders.o_orderpriority', 'accepted_values', n, v_av FROM o
      |  UNION ALL SELECT 'customer.c_mktsegment', 'accepted_values', n, v_av FROM c
      |  UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber)', 'unique', n, v_uq FROM l
      |  UNION ALL SELECT 'lineitem.l_quantity', 'range[1,50]', n, v_q FROM l
      |  UNION ALL SELECT 'lineitem.l_discount', 'range[0,1]', n, v_d FROM l
      |  UNION ALL SELECT 'events.event_type', 'accepted_values', n, v_av FROM e
      |  UNION ALL SELECT 'events.value', 'not_null', n, v_nn FROM e)
      |SELECT target, rule, CAST(n AS BIGINT) AS n_rows,
      |       CAST(n_violations AS BIGINT) AS n_violations,
      |       n_violations = 0 AS passed
      |FROM r ORDER BY target, rule""".stripMargin) { (s, dir) =>
    def stackRules(agg: DataFrame, rules: Seq[(String, String, String)]): DataFrame = {
      // one fused aggregate per table -> stack unpivots to rule rows
      val k = rules.size
      val cells = rules.map { case (target, rule, vCol) =>
        s"'$target', '$rule', CAST(n AS BIGINT), CAST($vCol AS BIGINT)"
      }.mkString(", ")
      agg.select(expr(
        s"stack($k, $cells) AS (target, rule, n_rows, n_violations)"))
    }
    val o = stackRules(
      t(s, dir, "orders").agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_nn"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uq"),
        sum(when(col("o_totalprice").isNull || col("o_totalprice") < 0 ||
          col("o_totalprice") > 1000000, 1L).otherwise(0L)).as("v_rng"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"), 0L).otherwise(1L)).as("v_av")),
      Seq(
        ("orders.o_orderkey", "not_null", "v_nn"),
        ("orders.o_orderkey", "unique", "v_uq"),
        ("orders.o_totalprice", "range[0,1000000]", "v_rng"),
        ("orders.o_orderpriority", "accepted_values", "v_av")))
    val c = stackRules(
      t(s, dir, "customer").agg(
        count(lit(1)).as("n"),
        sum(when(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY"), 0L).otherwise(1L)).as("v_av")),
      Seq(("customer.c_mktsegment", "accepted_values", "v_av")))
    val l = stackRules(
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        (count(when(col("l_orderkey").isNotNull && col("l_linenumber").isNotNull,
          1L)) -
          countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_uq"),
        sum(when(col("l_quantity").isNull || col("l_quantity") < 1 ||
          col("l_quantity") > 50, 1L).otherwise(0L)).as("v_q"),
        sum(when(col("l_discount").isNull || col("l_discount") < 0 ||
          col("l_discount") > 1, 1L).otherwise(0L)).as("v_d")),
      Seq(
        ("lineitem.(l_orderkey,l_linenumber)", "unique", "v_uq"),
        ("lineitem.l_quantity", "range[1,50]", "v_q"),
        ("lineitem.l_discount", "range[0,1]", "v_d")))
    val e = stackRules(
      t(s, dir, "events").agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type").isin("view", "click", "signup", "purchase",
          "error"), 0L).otherwise(1L)).as("v_av"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("v_nn")),
      Seq(
        ("events.event_type", "accepted_values", "v_av"),
        ("events.value", "not_null", "v_nn")))
    o.unionByName(c).unionByName(l).unionByName(e)
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("target", "rule")
  }

  /** K-ANONYMITY AUDIT — the re-identification risk report (Sweeney 2002)
    * a privacy review runs before any customer-grained release: group
    * rows into quasi-identifier classes and count how many sit in classes
    * smaller than k = 5 (each such row is linkable by an adversary who
    * knows the QI tuple). Three generalization levels are audited in ONE
    * report — the full QI (nation × segment × $1000 balance band), the
    * band dropped, and nation dropped too — showing how coarsening buys
    * anonymity: the release picks the first k-anonymous level.
    *
    * Shape at 100 TB: each level is a two-stage aggregation (QI-class
    * sizes map-side combined, then a class-count-sized summary) over the
    * pruned QI columns; the three levels scan once each (a rollup-style
    * shared scan is possible but obscures the per-level plan — class
    * counts are dimension-sized either way). The band clamps at 0 (the
    * q_entity_match convention) so floor-vs-truncate never diverges on
    * negative balances. */
  val kAnonymity: Q = {
    val k = 5
    Q(
      "q_kanonymity",
      s"""WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         GREATEST(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0) // 100000
        |           AS band
        |  FROM customer),
        |l0 AS (SELECT COUNT(*) AS sz FROM b
        |       GROUP BY c_nationkey, c_mktsegment, band),
        |l1 AS (SELECT COUNT(*) AS sz FROM b GROUP BY c_nationkey, c_mktsegment),
        |l2 AS (SELECT COUNT(*) AS sz FROM b GROUP BY c_mktsegment),
        |r AS (
        |  SELECT 0 AS level, 'nation,segment,band' AS qi, COUNT(*) AS n_classes,
        |         CAST(SUM(sz) AS BIGINT) AS n_rows, CAST(MIN(sz) AS BIGINT) AS min_class,
        |         CAST(SUM(CASE WHEN sz < $k THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk
        |  FROM l0
        |  UNION ALL
        |  SELECT 1, 'nation,segment', COUNT(*), CAST(SUM(sz) AS BIGINT),
        |         CAST(MIN(sz) AS BIGINT),
        |         CAST(SUM(CASE WHEN sz < $k THEN sz ELSE 0 END) AS BIGINT)
        |  FROM l1
        |  UNION ALL
        |  SELECT 2, 'segment', COUNT(*), CAST(SUM(sz) AS BIGINT),
        |         CAST(MIN(sz) AS BIGINT),
        |         CAST(SUM(CASE WHEN sz < $k THEN sz ELSE 0 END) AS BIGINT)
        |  FROM l2)
        |SELECT CAST(level AS BIGINT) AS level, qi, CAST(n_classes AS BIGINT)
        |         AS n_classes, n_rows, min_class, rows_at_risk,
        |       rows_at_risk = 0 AS k_anonymous
        |FROM r ORDER BY level""".stripMargin) { (s, dir) =>
      val b = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("GREATEST(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0L) DIV 100000")
            .as("band"))
      def level(lvl: Int, qi: String, keys: Seq[String]): DataFrame =
        b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_rows"),
            min(col("sz")).as("min_class"),
            sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_at_risk"))
          .select(lit(lvl.toLong).as("level"), lit(qi).as("qi"),
            col("n_classes"), col("n_rows"), col("min_class"),
            col("rows_at_risk"))
      level(0, "nation,segment,band",
          Seq("c_nationkey", "c_mktsegment", "band"))
        .unionByName(level(1, "nation,segment",
          Seq("c_nationkey", "c_mktsegment")))
        .unionByName(level(2, "segment", Seq("c_mktsegment")))
        .withColumn("k_anonymous", col("rows_at_risk") === 0L)
        .orderBy("level")
    }
  }

  /** L-DIVERSITY AUDIT — the step after [[kAnonymity]] in the
    * re-identification tower: k-anonymity bounds how well an attacker can
    * SINGLE OUT a row, but a class whose sensitive attribute is uniform
    * leaks it to every member anyway (the homogeneity attack); distinct
    * l-diversity requires every quasi-identifier class to contain at
    * least l distinct sensitive values. Here the sensitive attribute is
    * o_orderpriority and the QI ladder generalizes (status, order month)
    * → (status): per level, the class count, the minimum distinct
    * sensitive values in any class, the classes and rows below l = 3,
    * and the verdict. All counts exact — the entropy variant needs logs,
    * so the exact contract reports the distinct form (the one Machanavajjhala
    * et al. call out as the practical default).
    *
    * Shape at 100 TB: one scan per level → (QI, sensitive)-keyed
    * pre-aggregation, then a class-keyed distinct count — two map-side-
    * combinable shuffles per level, class-bounded output. */
  val lDiversity: Q = {
    val l = 3
    Q(
      "q_l_diversity",
      s"""WITH b AS (
        |  SELECT o_orderstatus AS st,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |         o_orderpriority AS sens
        |  FROM orders),
        |c0 AS (
        |  SELECT st, mon, COUNT(*) AS sz, COUNT(DISTINCT sens) AS nd
        |  FROM b GROUP BY st, mon),
        |c1 AS (
        |  SELECT st, COUNT(*) AS sz, COUNT(DISTINCT sens) AS nd
        |  FROM b GROUP BY st),
        |r AS (
        |  SELECT 0 AS level, 'status,month' AS qi, COUNT(*) AS n_classes,
        |         CAST(MIN(nd) AS BIGINT) AS min_distinct,
        |         CAST(SUM(CASE WHEN nd < $l THEN 1 ELSE 0 END) AS BIGINT)
        |           AS classes_below_l,
        |         CAST(SUM(CASE WHEN nd < $l THEN sz ELSE 0 END) AS BIGINT)
        |           AS rows_at_risk
        |  FROM c0
        |  UNION ALL
        |  SELECT 1, 'status', COUNT(*), CAST(MIN(nd) AS BIGINT),
        |         CAST(SUM(CASE WHEN nd < $l THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(SUM(CASE WHEN nd < $l THEN sz ELSE 0 END) AS BIGINT)
        |  FROM c1)
        |SELECT CAST(level AS BIGINT) AS level, qi,
        |       CAST(n_classes AS BIGINT) AS n_classes, min_distinct,
        |       classes_below_l, rows_at_risk,
        |       classes_below_l = 0 AS l_diverse
        |FROM r ORDER BY level""".stripMargin) { (s, dir) =>
      val b = t(s, dir, "orders")
        .select(col("o_orderstatus").as("st"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
          col("o_orderpriority").as("sens"))
      def level(lvl: Int, qi: String, keys: Seq[String]): DataFrame =
        b.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("sz"), countDistinct(col("sens")).as("nd"))
          .agg(count(lit(1)).as("n_classes"),
            min(col("nd")).as("min_distinct"),
            sum(when(col("nd") < l, 1L).otherwise(0L)).as("classes_below_l"),
            sum(when(col("nd") < l, col("sz")).otherwise(0L)).as("rows_at_risk"))
          .select(lit(lvl.toLong).as("level"), lit(qi).as("qi"),
            col("n_classes"), col("min_distinct"), col("classes_below_l"),
            col("rows_at_risk"))
      level(0, "status,month", Seq("st", "mon"))
        .unionByName(level(1, "status", Seq("st")))
        .withColumn("l_diverse", col("classes_below_l") === 0L)
    }
  }

  val all: Seq[Q] =
    Seq(fkIntegrity, orderReconcile, abLift, rfmSegments, benfordGate,
      expectations, kAnonymity, lDiversity)
}
