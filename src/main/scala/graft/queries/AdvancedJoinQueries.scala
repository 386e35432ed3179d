package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det.dsum
import graft.engine.Tables
import graft.engine.Tables.t
import graft.queries.SubPlans.closureCtes

/** Operators Spark's join menu lacks natively, re-expressed Spark-first
  * (brief: "compose existing ops if semantics allow" — both compose, no
  * custom physical operator needed, and neither ever builds an inequality
  * cross product):
  *
  *  - AS-OF join: tag the two streams, union them, and carry the last
  *    left-side value forward with an ignoreNulls window inside each key
  *    partition — O(n log n) per key, the classic stream-merge form.
  *  - RANGE join: bucketize event time, explode the probe side to its
  *    candidate buckets, equi-join on (key, bucket), post-filter the exact
  *    bounds. The bucket width equals the range, so each probe row touches
  *    at most two buckets and the join stays keyed at any scale.
  */
object AdvancedJoinQueries {

  /** Each purchase picks up the latest click at-or-before it (per user).
    * Tie rule: a click at exactly the purchase timestamp is visible
    * (clicks sort before purchases at equal ts). */
  val asofJoin: Q = Q(
    "q_asof_join",
    """WITH c AS (
      |  SELECT user_id, ts, event_id, value AS cv, 0 AS is_b,
      |         CAST(NULL AS BIGINT) AS pid, CAST(NULL AS DOUBLE) AS pv
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS cv, 1 AS is_b,
      |         event_id AS pid, value AS pv
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (SELECT * FROM c UNION ALL SELECT * FROM p),
      |w AS (
      |  SELECT *, LAST_VALUE(cv IGNORE NULLS) OVER (
      |           PARTITION BY user_id ORDER BY ts, is_b, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
      |  FROM u)
      |SELECT user_id, pid AS purchase_id, pv AS purchase_value, last_click
      |FROM w WHERE is_b = 1
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val c = ev.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"), col("event_id"), col("value").as("cv"),
      lit(0).as("is_b"), lit(null).cast("long").as("pid"),
      lit(null).cast("double").as("pv"))
    val p = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), col("event_id"),
      lit(null).cast("double").as("cv"), lit(1).as("is_b"),
      col("event_id").as("pid"), col("value").as("pv"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_b"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c.unionAll(p)
      .withColumn("last_click", last(col("cv"), ignoreNulls = true).over(w))
      .filter(col("is_b") === 1)
      .select(col("user_id"), col("pid").as("purchase_id"),
        col("pv").as("purchase_value"), col("last_click"))
      .orderBy("user_id", "purchase_id")
  }

  /** For each purchase: clicks of the same user in the 10 minutes strictly
    * before it. Spark side buckets time at the range width and probes two
    * buckets; the oracle states the plain inequality form (fine for DuckDB
    * at test scale — the bucket rewrite exists precisely because that form
    * does not scale). */
  val rangeJoin: Q = Q(
    "q_range_join",
    """WITH p AS (
      |  SELECT user_id, event_id AS pid, ts AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, ts AS cts, value AS cv
      |  FROM events WHERE event_type = 'click')
      |SELECT p.user_id, p.pid,
      |       COUNT(c.cv) AS n_clicks,
      |       CAST(SUM(CAST(c.cv AS DECIMAL(38,6))) AS DOUBLE) AS click_sum
      |FROM p LEFT JOIN c
      |  ON p.user_id = c.user_id
      | AND c.cts >= p.pts - INTERVAL 10 MINUTE AND c.cts < p.pts
      |GROUP BY p.user_id, p.pid
      |ORDER BY p.user_id, p.pid""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    // exact integer division (Column `/` would go through double and can
    // mis-floor at exact bucket boundaries)
    def bucketOf(ts: org.apache.spark.sql.Column) = {
      val us = unix_micros(ts)
      // subtract the remainder first so the division is over an exact
      // multiple — bit-exact floor without integer-div syntax
      ((us - pmod(us, lit(600000000L))) / 600000000L).cast("long")
    }
    val clicks = ev.filter(col("event_type") === "click").select(
      col("user_id"), col("ts").as("cts"), col("value").as("cv"),
      bucketOf(col("ts")).as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
      explode(array(bucketOf(col("ts")) - 1, bucketOf(col("ts")))).as("bucket"))
    purchases
      .join(clicks, Seq("user_id", "bucket"), "left")
      .withColumn("cv", when(
        col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
          col("cts") < col("pts"), col("cv")))
      .groupBy("user_id", "pid")
      .agg(count(col("cv")).as("n_clicks"), dsum(col("cv")).as("click_sum"))
      .orderBy("user_id", "pid")
  }

  /** Nearest-direction as-of with tolerance, through the generic
    * engine/AsOf operator: each purchase picks the CLOSER of the latest
    * click at-or-before and the earliest click at-or-after (ties backward),
    * nulled when the chosen click is further than 10 minutes. The mirror
    * states the same two ignoreNulls windows and the same chooser. */
  val asofNearest: Q = Q(
    "q_asof_nearest",
    """WITH p AS (
      |  SELECT user_id, event_id AS purchase_id, ts AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts, value AS cv
      |      FROM events WHERE event_type = 'click'),
      |u AS (
      |  SELECT user_id, pts AS ts, 1 AS is_p, purchase_id,
      |         CAST(NULL AS TIMESTAMP) AS crt, CAST(NULL AS DOUBLE) AS cv
      |  FROM p
      |  UNION ALL
      |  SELECT user_id, cts AS ts, 0 AS is_p, CAST(NULL AS BIGINT), cts, cv
      |  FROM c),
      |w AS (
      |  SELECT *,
      |    LAST_VALUE(crt IGNORE NULLS) OVER wb AS brt,
      |    LAST_VALUE(cv IGNORE NULLS) OVER wb AS bv,
      |    FIRST_VALUE(crt IGNORE NULLS) OVER wf AS frt,
      |    FIRST_VALUE(cv IGNORE NULLS) OVER wf AS fv
      |  FROM u
      |  WINDOW
      |    wb AS (PARTITION BY user_id ORDER BY ts, is_p, crt, cv
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY user_id ORDER BY ts, is_p DESC, crt, cv
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |chosen AS (
      |  SELECT user_id, purchase_id, ts,
      |    CASE WHEN brt IS NULL THEN frt
      |         WHEN frt IS NULL THEN brt
      |         WHEN epoch(frt) - epoch(ts) < epoch(ts) - epoch(brt) THEN frt
      |         ELSE brt END AS mrt,
      |    CASE WHEN brt IS NULL THEN fv
      |         WHEN frt IS NULL THEN bv
      |         WHEN epoch(frt) - epoch(ts) < epoch(ts) - epoch(brt) THEN fv
      |         ELSE bv END AS mv
      |  FROM w WHERE is_p = 1)
      |SELECT user_id, purchase_id,
      |       CASE WHEN mrt IS NOT NULL AND abs(epoch(ts) - epoch(mrt)) <= 600
      |            THEN mv END AS cv_asof,
      |       CASE WHEN mrt IS NOT NULL AND abs(epoch(ts) - epoch(mrt)) <= 600
      |            THEN mrt END AS cv_asof_ts
      |FROM chosen
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("value").as("cv"))
    graft.engine.AsOf.join(p, c, Seq("user_id"), "pts", "cts", "cv",
        graft.engine.AsOf.Nearest, toleranceS = Some(600))
      .select("user_id", "purchase_id", "cv_asof", "cv_asof_ts")
  }

  /** ENTITY MATCHING (record linkage) — the pairwise stage of entity
    * resolution (Fellegi & Sunter 1969): candidate pairs meet ONLY through
    * a composite blocking key (nation × segment × $2000 balance band),
    * are scored with integer log-weight evidence — name edit distance
    * (Spark's codegen'd `levenshtein`) and balance proximity — and
    * classified match / possible / non_match by fixed thresholds. The
    * transitive-closure half of resolution is [[graft.engine.Dedup]]
    * `components` (q_dedup_components); this query is the linkage rule
    * that FEEDS it.
    *
    * Shape at 100 TB: the pair space is Θ(Σ_b n_b²) over BLOCK sizes, never
    * all-pairs — the blocking key bounds n_b, and a df-cut drops any block
    * over 256 members (a real pipeline escalates those to a more selective
    * key; dropping is the honest bounded behavior, same idiom as the
    * jaccard/simhash df caps). One keyed self-join + per-pair scalar
    * scoring; output is candidate pairs only (evidence on at least one
    * field), not the quadratic non-evidence space.
    *
    * Weights (scaled ln(m/u) convention): name ≤ 2 edits +24 else −8;
    * |Δbal| ≤ $10 +16 else −4; match ≥ 40, possible ≥ 20. All integers. */
  /** Shared blocking+scoring CTE chain (b -> ok -> bb -> p -> s): the ONE
    * linkage rule both the pairwise readout and the resolution pipeline
    * mirror, so the rule audited is the rule resolved. */
  private val linkCtes =
    """b AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
      |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
      |         GREATEST(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0) // 200000 AS band
      |  FROM customer),
      |ok AS (
      |  SELECT c_nationkey, c_mktsegment, band FROM b
      |  GROUP BY 1, 2, 3 HAVING COUNT(*) <= 256),
      |bb AS (SELECT b.* FROM b JOIN ok USING (c_nationkey, c_mktsegment, band)),
      |p AS (
      |  SELECT a.c_custkey AS custkey_a, x.c_custkey AS custkey_b,
      |         levenshtein(a.c_name, x.c_name) AS name_dist,
      |         abs(a.cents - x.cents) AS bal_diff_cents
      |  FROM bb a JOIN bb x
      |    ON a.c_nationkey = x.c_nationkey AND a.c_mktsegment = x.c_mktsegment
      |   AND a.band = x.band AND a.c_custkey < x.c_custkey),
      |s AS (
      |  SELECT *,
      |         (CASE WHEN name_dist <= 2 THEN 24 ELSE -8 END)
      |       + (CASE WHEN bal_diff_cents <= 1000 THEN 16 ELSE -4 END) AS score
      |  FROM p WHERE name_dist <= 2 OR bal_diff_cents <= 1000)""".stripMargin

  /** Customer base with cents + clamped band (Spark twin of CTE `b`). */
  private def custBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      // GREATEST(.,0): floor-vs-truncate never diverges on the (real)
      // negative balances — all non-positive balances share band 0
      .withColumn("band", expr("GREATEST(cents, 0L) DIV 200000"))

  /** Scored candidate pairs (Spark twin of CTE chain b..s). */
  private def scoredCandidates(s: SparkSession, dir: String): DataFrame = {
    val b = custBase(s, dir)
    val blockKey = Seq("c_nationkey", "c_mktsegment", "band")
    val ok = b.groupBy(blockKey.map(col): _*).agg(count(lit(1)).as("n_b"))
      .filter(col("n_b") <= 256).drop("n_b") // df-cut: oversized blocks out
    // the blocking self-join's inputs get an EXPLICIT-width exchange on
    // the block key: it satisfies the join's distribution (so no second
    // shuffle), and — unlike planner-inserted exchanges — an explicit
    // partition count is exempt from AQE byte-based coalescing, which
    // otherwise shrank the join + pair-enumeration + Levenshtein stage
    // to ONE task (a few hundred KB of slim rows fanning out into the
    // O(len²)-per-pair kernel; measured 1.7-2.0s of a 6.3s query on one
    // core, guide §2.5). Both join sides derive from the same exchange,
    // so the self-join reuses it.
    val bb = Tables.spread(b.join(ok, blockKey), blockKey.map(col): _*)
    val a2 = bb.select(col("c_custkey").as("custkey_b"),
      col("c_name").as("name_b"), col("c_nationkey"), col("c_mktsegment"),
      col("band"), col("cents").as("cents_b"))
    bb.join(a2, blockKey) // keyed self-join: the blocking join
      .filter(col("c_custkey") < col("custkey_b"))
      .select(col("c_custkey").as("custkey_a"), col("custkey_b"),
        levenshtein(col("c_name"), col("name_b")).cast("long").as("name_dist"),
        abs(col("cents") - col("cents_b")).as("bal_diff_cents"))
      .filter(col("name_dist") <= 2 || col("bal_diff_cents") <= 1000)
      .withColumn("score",
        (when(col("name_dist") <= 2, 24L).otherwise(-8L) +
          when(col("bal_diff_cents") <= 1000, 16L).otherwise(-4L)))
  }

  /** ENTITY MATCHING (record linkage) — see [[linkCtes]]: blocked,
    * integer-scored candidate pairs classified match / possible /
    * non_match by the Fellegi-Sunter threshold ladder. The pairwise
    * readout a linkage rule is tuned against; [[entityResolve]] is the
    * pipeline that consumes it. */
  val entityMatch: Q = Q(
    "q_entity_match",
    s"""WITH $linkCtes
      |SELECT custkey_a, custkey_b, CAST(name_dist AS BIGINT) AS name_dist,
      |       bal_diff_cents, CAST(score AS BIGINT) AS score,
      |       CASE WHEN score >= 40 THEN 'match'
      |            WHEN score >= 20 THEN 'possible'
      |            ELSE 'non_match' END AS verdict
      |FROM s ORDER BY custkey_a, custkey_b""".stripMargin) { (s, dir) =>
    scoredCandidates(s, dir)
      .withColumn("verdict",
        when(col("score") >= 40, "match")
          .when(col("score") >= 20, "possible")
          .otherwise("non_match"))
  }

  /** ENTITY RESOLUTION (golden records) — the full pipeline downstream of
    * [[entityMatch]]: accepted links (score ≥ 20 — match AND possible;
    * non_match pairs are rejected links) close transitively through
    * [[graft.engine.Dedup]] `components` (the same O(log d)
    * pointer-jumping fixpoint the dedup family uses), and each resulting
    * entity emits ONE golden record by survivorship policy —
    * keep-richest-balance, ties to the smallest key; the entity id is
    * the cluster's min member key. Entities whose weakest contributing
    * link is below the match threshold carry `needs_review = true` — the
    * clerical-review queue of a real MDM pipeline (auto-merge only what
    * every link supports at match strength). Only multi-record entities
    * are emitted: they ARE the merge worklist (singletons are already
    * golden).
    *
    * Shape at 100 TB: match pairs are block-bounded (entityMatch
    * scaladoc); the closure is keyed-shuffle rounds over the PAIR set
    * only; survivorship is a map-side max(struct) per cluster (the
    * q_dedup_canonical shape — no per-cluster window); customer
    * attributes join back on the bounded matched-id set, never the full
    * dimension. The oracle mirrors closure recursively and picks the
    * same survivor with a rank window, so clustering AND policy
    * hash-match. */
  val entityResolve: Q = Q(
    "q_entity_resolve",
    s"""WITH RECURSIVE $linkCtes,
      |m AS (SELECT custkey_a AS a, custkey_b AS b2, score FROM s
      |      WHERE score >= 20),
      |sym AS (
      |  SELECT a, b2 AS b FROM m
      |  UNION
      |  SELECT b2 AS a, a AS b FROM m),
      |$closureCtes,
      |mem AS (
      |  SELECT comp.id, comp.cluster, bb.c_name, bb.c_nationkey, bb.cents
      |  FROM comp JOIN bb ON bb.c_custkey = comp.id),
      |g AS (SELECT cluster, COUNT(*) AS n_records FROM mem GROUP BY cluster),
      |ls AS (
      |  SELECT comp.cluster, MIN(m.score) AS min_link FROM m
      |  JOIN comp ON comp.id = m.a GROUP BY comp.cluster),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |           PARTITION BY cluster ORDER BY cents DESC, id ASC) AS rn
      |  FROM mem)
      |SELECT rk.cluster AS entity_id, CAST(g.n_records AS BIGINT) AS n_records,
      |       rk.id AS custkey_kept, rk.c_name AS name_kept,
      |       rk.c_nationkey AS nation_kept, rk.cents AS cents_kept,
      |       ls.min_link < 40 AS needs_review
      |FROM rk JOIN g USING (cluster) JOIN ls USING (cluster)
      |WHERE rk.rn = 1
      |ORDER BY entity_id""".stripMargin) { (s, dir) =>
    val links = scoredCandidates(s, dir).filter(col("score") >= 20)
      .select(col("custkey_a"), col("custkey_b"), col("score"))
      .localCheckpoint(false) // read by the closure AND the review flag
    val comp = graft.engine.Dedup.components(
        links.select("custkey_a", "custkey_b"))
      .toDF("c_custkey", "cluster")
    val mem = comp.join(custBase(s, dir), "c_custkey") // bounded linked ids
    val review = links
      .join(comp.withColumnRenamed("c_custkey", "custkey_a"), "custkey_a")
      .groupBy("cluster").agg(min(col("score")).as("min_link"))
    mem.groupBy("cluster")
      .agg(count(lit(1)).as("n_records"),
        max(struct(col("cents"), (-col("c_custkey")).as("nk"),
          col("c_custkey").as("k"), col("c_name"), col("c_nationkey")))
          .as("w")) // survivorship: one slim row per cluster, map-side
      .join(review, "cluster")
      .select(col("cluster").as("entity_id"), col("n_records"),
        col("w.k").as("custkey_kept"), col("w.c_name").as("name_kept"),
        col("w.c_nationkey").as("nation_kept"), col("w.cents").as("cents_kept"),
        (col("min_link") < 40).as("needs_review"))
  }

  val all: Seq[Q] =
    Seq(asofJoin, rangeJoin, asofNearest, entityMatch, entityResolve)
}
