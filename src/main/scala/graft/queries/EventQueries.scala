package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Det.dsum
import graft.engine.Tables.t

/** Semi-structured extraction + event-time windowing over `events`
  * (SURVEY §2.9/§7.5 extensions; the reference is batch-only, so these are
  * the engine's own surface — expressed in batch form here, with the same
  * operators reusable under Structured Streaming, see graft.streaming).
  *
  * All window aggregations are per (window, key) hash aggregations — partial
  * aggregation applies map-side, nothing sorts globally. Sliding windows
  * multiply rows by windows-per-event (4 here) BEFORE the aggregation, the
  * standard Spark shape.
  */
object EventQueries {

  /** JSON field extraction (`props` payload) + aggregation on the extracted
    * value. get_json_object stays inside codegen; the extracted string is
    * cast to a numeric type explicitly (both engines null on malformed). */
  val jsonExtract: Q = Q(
    "q_json_extract",
    """SELECT event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(k).as("sum_k"),
        min(k).as("min_k"), max(k).as("max_k"))
      .orderBy("event_type")
  }

  /** Tumbling event-time window (1 hour) per event_type. */
  val windowTumbling: Q = Q(
    "q_window_tumbling",
    """SELECT date_trunc('hour', ts) AS wstart, event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"))
      .select(col("w.start").as("wstart"), col("event_type"),
        col("n_events"), col("total"))
      .orderBy("wstart", "event_type")
  }

  /** Sliding event-time window (1 hour every 15 minutes): each event lands
    * in exactly 4 overlapping windows. The DuckDB mirror expands the windows
    * with a 4-element series join on the 15-minute-aligned start. */
  val windowSliding: Q = Q(
    "q_window_sliding",
    """WITH expanded AS (
      |  SELECT e.ts, e.value,
      |         e.ts - to_microseconds(epoch_us(e.ts) % 900000000)
      |              - to_microseconds(g.k * 900000000) AS wstart
      |  FROM events e
      |  CROSS JOIN (SELECT unnest(range(4)) AS k) g)
      |SELECT wstart,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM expanded
      |GROUP BY wstart
      |ORDER BY wstart""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"))
      .select(col("w.start").as("wstart"), col("n_events"), col("total"))
      .orderBy("wstart")
  }

  /** Session window (10-minute gap) per user. Spark sessions are half-open
    * [start, last_event + gap): a new session begins when the inter-event
    * gap is >= the timeout. The DuckDB mirror is the gaps-and-islands form:
    * flag gap >= 10 min, running-sum the flags into session ids, aggregate. */
  val windowSession: Q = Q(
    "q_window_session",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN LAG(ts) OVER w IS NULL
      |                OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |       MAX(ts) + INTERVAL 10 MINUTE AS session_end,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM sessions
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total"))
  }

  /** FUNNEL analysis: how far each user progresses through the ordered
    * view -> click -> purchase sequence, where each stage must strictly
    * follow the previous one in event time — the classic product-analytics
    * operator (and, for a training-data pipeline, the interaction-quality
    * signal event logs are filtered on).
    *
    * Shape at 100 TB: each stage is a per-user MIN aggregation (map-side
    * partial) JOINED to the next stage's filtered events on the user key —
    * three keyed aggregations + three keyed equi-joins, never a per-user
    * sort or a window over the raw event stream; stage tables shrink to
    * <= one row per user before every join. */
  val eventFunnel: Q = Q(
    "q_event_funnel",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |s1 AS (SELECT user_id, MIN(ts) AS t_view FROM events
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_click
      |       FROM events e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      |       FROM events e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY e.user_id)
      |SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
      |       CAST(CASE WHEN s3.t_purchase IS NOT NULL THEN 3
      |                 WHEN s2.t_click IS NOT NULL THEN 2
      |                 WHEN s1.t_view IS NOT NULL THEN 1
      |                 ELSE 0 END AS BIGINT) AS stage
      |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id)
      |ORDER BY u.user_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val u = ev.select("user_id").distinct()
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    u.join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .when(col("t_view").isNotNull, 1L)
          .otherwise(0L).as("stage"))
  }

  /** RETENTION COHORTS: users grouped by their first-seen week, counted in
    * every later week they return — the cohort-retention matrix of product
    * analytics (and the freshness/engagement profile an interaction-log
    * pipeline slices training data by). Week truncation is Monday-start
    * ISO in BOTH engines, so the cohort keys hash-match.
    *
    * Shape: distinct (user, week) pairs -> per-user MIN (map-side partial)
    * -> one keyed join back -> one aggregation. Never a window, never a
    * sort before the presentation ORDER BY; every table after the distinct
    * is bounded by users x weeks. */
  val retentionCohorts: Q = Q(
    "q_retention_cohorts",
    """WITH uw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id)
      |SELECT c.cohort_week,
      |       CAST(datediff('day', c.cohort_week, uw.wk) / 7 AS BIGINT) AS week_offset,
      |       COUNT(*) AS active_users
      |FROM uw JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val uw = t(s, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val c = uw.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
    uw.join(c, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Session TRAJECTORY assembly — the event-log-to-training-sequence
    * constructor: each (user, 10-minute session) becomes one ordered
    * event-type sequence string, the row shape a behavioral-sequence
    * model trains on (and the companion of q_window_session, which keeps
    * only the session AGGREGATES this query keeps the order of).
    *
    * Ordering inside a session is total and engine-independent:
    * `(ts, event_id)` — the struct sort's leading fields — so the
    * assembled string is deterministic even for same-microsecond events.
    *
    * Shape at 100 TB: one keyed shuffle (user sessionization via
    * `session_window`, the same partial-merging session aggregation as
    * q_window_session); `collect_list` is bounded by SESSION length — a
    * session closes after a 10-minute gap, so no list grows with the
    * corpus, unlike a per-user collect. The sort is per-row over that
    * bounded array, not a window over the event stream. */
  val sessionTrajectories: Q = Q(
    "q_session_trajectories",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN LAG(ts) OVER w IS NULL
      |                OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       string_agg(event_type, ' ' ORDER BY ts, event_id) AS trajectory
      |FROM sessions
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), " ").as("trajectory"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("trajectory"))
      .orderBy("user_id", "session_start")
  }

  /** HyperLogLog distinct-count SKETCH, fully oracle-checked — the
    * cardinality estimator every 100-TB pipeline runs where exact
    * count-distinct is too expensive, here with its whole numeric tower
    * made ENGINE-DETERMINISTIC so even the approximation hash-matches
    * DuckDB:
    *  - the hash is the engine's cross-engine md5-32
    *    ([[graft.functions.Text.md5Hash32]]);
    *  - the register index is `h % 256` (p = 8) and the rank is the
    *    leading-zero count of the remaining 24 bits via a pure
    *    integer CASE ladder — no floating log anywhere (the tfidf
    *    lesson: libm calls are not cross-engine reproducible);
    *  - the harmonic sum over 256 registers is EXACT double arithmetic:
    *    every 2^-M_j term is a dyadic rational in [2^-25, 1], so all
    *    partial sums stay below 53 mantissa bits — no rounding, hence
    *    no float-addition order sensitivity across engines or partition
    *    layouts;
    *  - the output is the RAW alpha_256 * m^2 / S estimate AND the
    *    small-range-corrected one, alongside the exact distinct count and
    *    both relative errors. Linear counting needs ln() — libm again,
    *    not cross-engine reproducible — but its argument V = zero_buckets
    *    is FINITE (1..256), so the correction ships as a 256-entry literal
    *    table of exact-decimal m*ln(m/V) doubles
    *    ([[graft.functions.Sketch.HllLinearStrings]]), applied when the
    *    raw estimate is <= 5/2*m and V > 0 — deterministic in both engines
    *    by the same trick as the dyadic 2^-m table. The testdata's user
    *    cardinality (15/150/1500 at the three SFs) sits squarely in that
    *    small-range regime, so the corrected column is the one that reads
    *    right on the gate data; at the billions-of-keys cardinalities the
    *    p = 8 bank targets at 100 TB, zero_buckets hits 0, the correction
    *    is the identity, and the raw estimate's error concentrates to
    *    ~1.04/sqrt(256) = 6.5%.
    *
    * Shape at 100 TB: two keyed aggregations — (bucket) max-rank with
    * map-side partials (the shuffle carries at most 256 rows per map
    * task), then one 256-row global fold. The exact count_distinct
    * column exists to GRADE the sketch and is the expensive operator the
    * sketch replaces in production. */
  val hllDistinct: Q = {
    import graft.functions.Sketch
    // the rank ladder, the 2^-m and m*ln(m/V) tables and alpha_256 * m^2
    // are Sketch's exact SQL literals, so no libm call (power, ln) enters
    // either engine; alpha_256 * m^2 is cast DOUBLE because DuckDB parses
    // a bare decimal literal as DECIMAL and overflows multiplying it
    Q(
      "q_hll_distinct",
      s"""WITH h AS (
        |  SELECT user_id,
        |         CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
        |  FROM events),
        |rho AS (
        |  SELECT hv % 256 AS bucket, hv // 256 AS w FROM h),
        |ranked AS (
        |  SELECT bucket, ${Sketch.HllRankSql} AS r FROM rho),
        |regs AS (SELECT bucket, MAX(r) AS m FROM ranked GROUP BY bucket),
        |folded AS (
        |  SELECT COUNT(*) AS n_buckets,
        |         SUM((${Sketch.HllInvSql})[m]) AS s,
        |         SUM(CASE WHEN m >= 25 THEN 1 ELSE 0 END) AS saturated
        |  FROM regs),
        |exact AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events),
        |raw AS (
        |  SELECT f.n_buckets, 256 - f.n_buckets AS zb, f.saturated,
        |         f.s + (256 - f.n_buckets) AS hs,
        |         CAST(${Sketch.HllAlphaM2} AS DOUBLE) / (f.s + (256 - f.n_buckets)) AS est
        |  FROM folded f),
        |corrected AS (
        |  SELECT r.*, CASE WHEN r.zb > 0 AND r.est <= CAST(640.0 AS DOUBLE)
        |                   THEN (${Sketch.HllLinearSql})[CAST(r.zb AS INTEGER)]
        |                   ELSE r.est END AS cest
        |  FROM raw r)
        |SELECT CAST(c.n_buckets AS BIGINT) AS n_buckets,
        |       CAST(c.zb AS BIGINT) AS zero_buckets,
        |       CAST(c.saturated AS BIGINT) AS saturated_buckets,
        |       c.hs AS harmonic_sum,
        |       c.est AS hll_estimate,
        |       c.cest AS hll_corrected,
        |       CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
        |       abs(c.est - e.exact_distinct) / e.exact_distinct AS rel_err,
        |       abs(c.cest - e.exact_distinct) / e.exact_distinct AS rel_err_corrected
        |FROM corrected c, exact e""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val hv = Sketch.hllHash(col("user_id"))
      val rho = ev.select(hv.as("hv"))
        .select(Sketch.hllBucket(col("hv")).as("bucket"),
          Sketch.hllRank(col("hv")).as("r"))
      val regs = rho.groupBy("bucket").agg(max(col("r")).as("m"))
      val folded = regs.agg(
        count(lit(1)).as("n_buckets"),
        sum(Sketch.hllInv(col("m"))).as("s"),
        sum(when(col("m") >= Sketch.HllRankMax, 1).otherwise(0)).as("saturated"))
      val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
      val hs = col("s") + (lit(Sketch.HllBuckets) - col("n_buckets"))
      val est = Sketch.hllEstimate(col("s"), col("n_buckets"))
      val zb = lit(Sketch.HllBuckets) - col("n_buckets")
      val cest = Sketch.hllCorrected(est, zb)
      folded.crossJoin(exact)
        .select(col("n_buckets").cast("long").as("n_buckets"),
          zb.cast("long").as("zero_buckets"),
          col("saturated").cast("long").as("saturated_buckets"),
          hs.as("harmonic_sum"),
          est.as("hll_estimate"),
          cest.as("hll_corrected"),
          col("exact_distinct").cast("long").as("exact_distinct"),
          (abs(est - col("exact_distinct")) / col("exact_distinct")).as("rel_err"),
          (abs(cest - col("exact_distinct")) / col("exact_distinct")).as("rel_err_corrected"))
    }
  }

  /** PER-GROUP HLL — q_hll_distinct's register tower run per key, the
    * form a 100-TB pipeline actually deploys: "distinct users per event
    * type / per day / per source" in ONE pass, where an exact
    * count(DISTINCT) per group would shuffle every (group, user) pair.
    * The registers are MERGEABLE state (max per (group, bucket)), so the
    * aggregation takes map-side partials and the shuffle carries at most
    * 256 register rows per group per map task — constant in the data,
    * linear only in group cardinality. The same register frame also
    * merges ACROSS groups or days without rescanning (max of maxes),
    * which is what makes sketch columns materializable in a rollup table;
    * [[graft.streaming.Streams.hllRegisters]] is the streaming maintainer
    * of exactly this state.
    *
    * Determinism: identical tower to q_hll_distinct (md5-32 hash, integer
    * rank ladder, exact-dyadic 2^-m table, <53-bit harmonic sums that
    * cannot round and so cannot order-drift, literal m*ln(m/V) correction
    * table) — per group, every column hash-matches DuckDB. The exact
    * per-group distinct is computed only to GRADE the sketch. */
  val hllByGroup: Q = {
    import graft.functions.Sketch
    Q(
      "q_hll_by_group",
      s"""WITH h AS (
        |  SELECT event_type,
        |         CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
        |  FROM events),
        |rho AS (
        |  SELECT event_type, hv % 256 AS bucket, hv // 256 AS w FROM h),
        |ranked AS (
        |  SELECT event_type, bucket, ${Sketch.HllRankSql} AS r FROM rho),
        |regs AS (
        |  SELECT event_type, bucket, MAX(r) AS m FROM ranked
        |  GROUP BY event_type, bucket),
        |folded AS (
        |  SELECT event_type, COUNT(*) AS n_buckets,
        |         SUM((${Sketch.HllInvSql})[m]) AS s
        |  FROM regs GROUP BY event_type),
        |exact AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY event_type),
        |raw AS (
        |  SELECT f.event_type, f.n_buckets, 256 - f.n_buckets AS zb,
        |         CAST(${Sketch.HllAlphaM2} AS DOUBLE) / (f.s + (256 - f.n_buckets)) AS est
        |  FROM folded f),
        |corrected AS (
        |  SELECT r.*, CASE WHEN r.zb > 0 AND r.est <= CAST(640.0 AS DOUBLE)
        |                   THEN (${Sketch.HllLinearSql})[CAST(r.zb AS INTEGER)]
        |                   ELSE r.est END AS cest
        |  FROM raw r)
        |SELECT c.event_type,
        |       CAST(c.n_buckets AS BIGINT) AS n_buckets,
        |       CAST(c.zb AS BIGINT) AS zero_buckets,
        |       c.est AS hll_estimate,
        |       c.cest AS hll_corrected,
        |       CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
        |       abs(c.cest - e.exact_distinct) / e.exact_distinct AS rel_err_corrected
        |FROM corrected c JOIN exact e ON e.event_type = c.event_type
        |ORDER BY c.event_type""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val hv = Sketch.hllHash(col("user_id"))
      val rho = ev.select(col("event_type"), hv.as("hv"))
        .select(col("event_type"),
          Sketch.hllBucket(col("hv")).as("bucket"),
          Sketch.hllRank(col("hv")).as("r"))
      val regs = rho.groupBy("event_type", "bucket").agg(max(col("r")).as("m"))
      val folded = regs.groupBy("event_type").agg(
        count(lit(1)).as("n_buckets"),
        sum(Sketch.hllInv(col("m"))).as("s"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      val est = Sketch.hllEstimate(col("s"), col("n_buckets"))
      val zb = lit(Sketch.HllBuckets) - col("n_buckets")
      val cest = Sketch.hllCorrected(est, zb)
      folded.join(exact, Seq("event_type"))
        .select(col("event_type"),
          col("n_buckets").cast("long").as("n_buckets"),
          zb.cast("long").as("zero_buckets"),
          est.as("hll_estimate"),
          cest.as("hll_corrected"),
          col("exact_distinct").cast("long").as("exact_distinct"),
          (abs(cest - col("exact_distinct")) / col("exact_distinct"))
            .as("rel_err_corrected"))
        .orderBy("event_type")
    }
  }

  /** BLOOM-FILTER membership pruning, fully oracle-checked — the other
    * sketch a 100-TB join planner lives on: build a 2048-bit / 3-hash
    * Bloom filter over the purchase-user set, probe EVERY user through
    * it, and grade the verdicts against exact membership. In production
    * the filter prunes a huge probe side before an expensive join (rows
    * whose keys definitely-miss never shuffle); here the probe emits
    * per-user (bloom_maybe, actual, false_positive) so the oracle checks
    * the FILTER ITSELF bit-for-bit, not just the pruned result.
    *
    * Determinism: bit positions are md5-32 hashes ("b0:"/"b1:"/"b2:"
    * namespaces) mod 2048; the filter words build via BIT_OR of
    * `1 << (bit % 64)` masks (two's-complement longs — identical in both
    * engines; DuckDB refuses to shift INTO the sign bit, so position 63
    * is spelled as the Long.MinValue literal in the mirror); the probe is
    * a 3-way all-bits-set check. No floats anywhere.
    *
    * Shape at 100 TB: the filter is 32 (word_idx, word) rows REGARDLESS
    * of build-side size — a keyed BIT_OR aggregation with map-side
    * partials, then broadcast; the probe explodes each key to its 3
    * (word_idx, mask) probes, joins the broadcast words, and folds back
    * with a count-of-hits == 3 check: one narrow aggregation per probe
    * key, no shuffle of the probe side against the build side. */
  val bloomPrune: Q = {
    val M = 2048L // bits
    val K = 3 // hashes
    def bitSql(i: Int) =
      s"CAST(('0x' || substr(md5('b$i:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % $M"
    val probeUnion = (0 until K).map(i =>
      s"SELECT user_id, $i AS ki, ${bitSql(i)} AS bit FROM u").mkString("\n  UNION ALL\n  ")
    Q(
      "q_bloom_prune",
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
        |members AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |mbits AS (
        |  ${probeUnion.replace("FROM u", "FROM members")}),
        |words AS (
        |  SELECT bit // 64 AS word_idx, BIT_OR(CASE WHEN bit % 64 = 63
        |           THEN CAST(-9223372036854775808 AS BIGINT)
        |           ELSE 1::BIGINT << CAST(bit % 64 AS INTEGER) END) AS w
        |  FROM mbits GROUP BY bit // 64),
        |pbits AS (
        |  $probeUnion),
        |hits AS (
        |  SELECT p.user_id,
        |         SUM(CASE WHEN (w.w & (CASE WHEN p.bit % 64 = 63
        |                    THEN CAST(-9223372036854775808 AS BIGINT)
        |                    ELSE 1::BIGINT << CAST(p.bit % 64 AS INTEGER) END)) != 0
        |                  THEN 1 ELSE 0 END) AS n_hit
        |  FROM pbits p LEFT JOIN words w ON w.word_idx = p.bit // 64
        |  GROUP BY p.user_id)
        |SELECT h.user_id,
        |       h.n_hit = $K AS bloom_maybe,
        |       m.user_id IS NOT NULL AS actual_member,
        |       h.n_hit = $K AND m.user_id IS NULL AS false_positive
        |FROM hits h LEFT JOIN members m ON m.user_id = h.user_id
        |ORDER BY h.user_id""".stripMargin) { (s, dir) =>
      import graft.functions.Sketch
      val ev = t(s, dir, "events")
      val users = ev.select(col("user_id")).distinct()
      val members = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      def bits(df: org.apache.spark.sql.DataFrame) =
        df.select(col("user_id"), Sketch.bloomBits(col("user_id")).as("bit"))
      val filterWords = bits(members)
        .select(Sketch.bloomWordIdx(col("bit")).as("word_idx"),
          Sketch.bloomMask(col("bit")).as("m"))
        .groupBy("word_idx").agg(bit_or(col("m")).as("w"))
      val hits = bits(users)
        .select(col("user_id"), Sketch.bloomWordIdx(col("bit")).as("word_idx"),
          Sketch.bloomMask(col("bit")).as("m"))
        .join(broadcast(filterWords), Seq("word_idx"), "left")
        .groupBy("user_id")
        .agg(sum(when(col("w").bitwiseAND(col("m")) =!= 0, 1).otherwise(0)).as("n_hit"))
      hits
        .join(members.withColumn("is_m", lit(true)), Seq("user_id"), "left")
        .select(col("user_id"),
          (col("n_hit") === K).as("bloom_maybe"),
          col("is_m").isNotNull.as("actual_member"),
          (col("n_hit") === K && col("is_m").isNull).as("false_positive"))
        .orderBy("user_id")
    }
  }

  /** COUNT-MIN SKETCH frequency estimation + heavy-hitter grading, fully
    * oracle-checked — the frequency member of the sketch tower (HLL =
    * distinct, Bloom = membership, histogram = quantiles). Build a
    * 4-row x 512-cell counter bank over per-user event counts, probe every
    * user back through it (estimate = MIN over its 4 cells), and grade the
    * heavy-hitter verdicts against exact counts. The one-sided guarantee
    * estimate >= exact (a key's own increments land in every cell it
    * probes) means a CMS-driven heavy-hitter pass has NO false negatives —
    * pinned per-row here (`overestimate >= 0`) and on crafted collision
    * sets in SketchSpec.
    *
    * Determinism: cells are md5-32 hashes ("cm0:".."cm3:" namespaces) mod
    * 512; counters are long SUMs, the probe a long MIN — no floats
    * anywhere. The heavy threshold (9/8 of the mean events-per-user — the
    * synthetic log assigns users near-uniformly, so the tail sits within
    * ~1.5x of the mean and a 9/8 cut selects the ~p90 tail at every SF) is
    * exact integer division via the remainder trick
    * `(9n - (9n % 8u)) / 8u`: the numerator is exactly divisible, so the
    * IEEE division is exact in both engines.
    *
    * Shape at 100 TB: the counter bank is at most 2048 (r, cell, sum) rows
    * REGARDLESS of input — a keyed SUM aggregation with map-side partials,
    * then broadcast; the probe joins each key's 4 cells against the
    * broadcast bank and folds back with one narrow MIN aggregation. No
    * shuffle scales with the sketch, only with the key set. */
  val cmsHeavy: Q = {
    import graft.functions.Sketch
    val W = Sketch.CmsWidth
    def cellSql(i: Int) =
      s"CAST(('0x' || substr(md5('cm$i:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % $W"
    val probeUnion = (0 until Sketch.CmsRows).map(i =>
      s"SELECT user_id, cnt, $i AS r, ${cellSql(i)} AS cell FROM k")
      .mkString("\n  UNION ALL\n  ")
    Q(
      "q_cms_heavy",
      s"""WITH k AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
        |pr AS (
        |  $probeUnion),
        |cells AS (SELECT r, cell, SUM(cnt) AS cs FROM pr GROUP BY r, cell),
        |est AS (
        |  SELECT p.user_id, MIN(p.cnt) AS exact_count, CAST(MIN(c.cs) AS BIGINT) AS cms_estimate
        |  FROM pr p JOIN cells c ON c.r = p.r AND c.cell = p.cell
        |  GROUP BY p.user_id),
        |tot AS (SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS nu FROM events),
        |thr AS (SELECT (9 * n - (9 * n % (8 * nu))) // (8 * nu) AS t FROM tot)
        |SELECT e.user_id, e.cms_estimate, e.exact_count,
        |       e.cms_estimate - e.exact_count AS overestimate,
        |       CAST(t.t AS BIGINT) AS heavy_threshold,
        |       e.cms_estimate >= t.t AS cms_heavy,
        |       e.exact_count >= t.t AS actual_heavy
        |FROM est e, thr t
        |WHERE e.cms_estimate >= t.t OR e.exact_count >= t.t
        |ORDER BY e.user_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val keyed = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val probes = keyed
        .select(col("user_id"), col("cnt"), Sketch.cmsCells(col("user_id")).as("p"))
        .select(col("user_id"), col("cnt"),
          col("p.r").as("r"), col("p.cell").as("cell"))
      val cells = probes.groupBy("r", "cell").agg(sum("cnt").as("cs"))
      val est = probes.join(broadcast(cells), Seq("r", "cell"))
        .groupBy("user_id")
        .agg(min("cnt").as("exact_count"), min("cs").as("cms_estimate"))
      val tot = ev.agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("nu"))
      val num = col("n") * 9
      val den = col("nu") * 8
      val thr = ((num - pmod(num, den)) / den).cast("long")
      est.crossJoin(tot)
        .select(col("user_id"), col("cms_estimate"), col("exact_count"),
          (col("cms_estimate") - col("exact_count")).as("overestimate"),
          thr.as("heavy_threshold"),
          (col("cms_estimate") >= thr).as("cms_heavy"),
          (col("exact_count") >= thr).as("actual_heavy"))
        .filter(col("cms_heavy") || col("actual_heavy"))
        .orderBy("user_id")
    }
  }

  /** KMV (bottom-k minimum values) distinct sketch, fully oracle-checked —
    * a SECOND, independently-derived distinct estimator next to HLL, the
    * one a system reaches for when it also wants a uniform SAMPLE of the
    * key space for free (the k retained hashes are one). Keep the k = 64
    * smallest md5-32 key hashes; the k-th smallest R estimates the
    * hash-space density, so distinct ~= (k-1) * 2^32 / R (Bar-Yossef et
    * al. 2002). Below k distinct hashes the sketch IS the exact count.
    *
    * Determinism: hashes are integers; the only float op is the single
    * IEEE division (k-1)*2^32 / kth, with the numerator pre-multiplied in
    * Scala so both engines parse ONE exact literal (63 * 2^32 =
    * 270582939648, exactly representable).
    *
    * Shape at 100 TB: bottom-k of a hash column is TakeOrdered — each
    * partition keeps its own 64 smallest, the driver merges 64 * partitions
    * candidates; nothing global sorts, state is 64 longs BY THE SKETCH. */
  val kmvDistinct: Q = {
    val K = 64
    val Num: Double = (K - 1).toDouble * 4294967296.0 // exact: 63 * 2^32
    Q(
      "q_kmv_distinct",
      s"""WITH h AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
        |  FROM events),
        |bk AS (SELECT hv FROM h ORDER BY hv LIMIT $K),
        |f AS (SELECT COUNT(*) AS n_seen, MAX(hv) AS kth FROM bk),
        |e AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events),
        |est AS (
        |  SELECT CAST(f.n_seen AS BIGINT) AS n_seen, f.kth AS kth_hash,
        |         CASE WHEN f.n_seen < $K THEN CAST(f.n_seen AS DOUBLE)
        |              ELSE CAST($Num AS DOUBLE) / f.kth END AS kmv_estimate,
        |         CAST(e.exact_distinct AS BIGINT) AS exact_distinct
        |  FROM f, e)
        |SELECT CAST($K AS BIGINT) AS k, n_seen, kth_hash, kmv_estimate,
        |       exact_distinct,
        |       abs(kmv_estimate - exact_distinct) / exact_distinct AS rel_err
        |FROM est""".stripMargin) { (s, dir) =>
      import graft.functions.Text
      val ev = t(s, dir, "events")
      val h = ev.select(Text.md5Hash32(
          concat(lit("kmv:"), col("user_id").cast("string"))).as("hv"))
        .distinct()
      val f = h.orderBy("hv").limit(K)
        .agg(count(lit(1)).as("n_seen"), max(col("hv")).as("kth"))
      val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
      val est = when(col("n_seen") < K, col("n_seen").cast("double"))
        .otherwise(lit(Num) / col("kth"))
      f.crossJoin(exact)
        .select(lit(K.toLong).as("k"), col("n_seen").as("n_seen"),
          col("kth").as("kth_hash"), est.as("kmv_estimate"),
          col("exact_distinct").cast("long").as("exact_distinct"),
          (abs(est - col("exact_distinct")) / col("exact_distinct"))
            .as("rel_err"))
    }
  }

  /** CDC LOG COMPACTION + incremental MERGE — the Delta/Iceberg-style
    * upsert primitive a 100-TB lakehouse table is maintained by. The event
    * log is read as a change stream per user key (signup/purchase =
    * upsert carrying `value`, error = delete tombstone; view/click are
    * non-mutating reads, ignored), split at the midpoint of the observed
    * event-time range into a BASE epoch (the compacted snapshot a table
    * already holds) and a DELTA epoch (the newly-arrived changes). The
    * merge applies delta over base with blind last-writer-wins — a delta
    * row REPLACES the base row for its key without comparing versions,
    * exactly how a MERGE INTO applies a newer batch — and the query then
    * proves the incremental result row-for-row equal to compacting the
    * whole log in one pass (`matches_full`, all true: every delta event's
    * timestamp exceeds every base event's by construction of the cut, so
    * blind override agrees with global argmax).
    *
    * Determinism: compaction picks each key's last change by the total
    * order (ts, event_id) — event_id is unique, so the argmax is unique;
    * the time cut is exact integer arithmetic on epoch-microseconds
    * (remainder trick for the halving).
    *
    * Shape at 100 TB: each epoch compacts with ONE map-side-combined
    * max_by(struct) hash aggregation (no per-key window sort), and the
    * merge is a single keyed full-outer join — the delta side is tiny in
    * steady state, so AQE broadcasts it against the snapshot. */
  val cdcMerge: Q = Q(
    "q_cdc_merge",
    """WITH ops AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      |  FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
      |cut AS (
      |  SELECT mn + ((mx - mn) - ((mx - mn) % 2)) // 2 AS cut_us
      |  FROM (SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM ops)),
      |base AS (
      |  SELECT user_id, op, value FROM (
      |    SELECT o.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ops o, cut c WHERE epoch_us(o.ts) <= c.cut_us)
      |  WHERE rn = 1),
      |delta AS (
      |  SELECT user_id, op, value FROM (
      |    SELECT o.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ops o, cut c WHERE epoch_us(o.ts) > c.cut_us)
      |  WHERE rn = 1),
      |full_c AS (
      |  SELECT user_id, op, value FROM (
      |    SELECT o.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ops o)
      |  WHERE rn = 1),
      |merged AS (
      |  SELECT COALESCE(d.user_id, b.user_id) AS user_id,
      |         b.op AS base_op, b.value AS base_value,
      |         d.op AS delta_op, d.value AS delta_value,
      |         COALESCE(d.op, b.op) AS merged_op,
      |         CASE WHEN COALESCE(d.op, b.op) = 'delete' THEN NULL
      |              ELSE COALESCE(d.value, b.value) END AS merged_value
      |  FROM base b FULL OUTER JOIN delta d ON d.user_id = b.user_id)
      |SELECT m.user_id, m.base_op, m.base_value, m.delta_op, m.delta_value,
      |       m.merged_op, m.merged_value,
      |       m.merged_op = 'delete' AS merged_deleted,
      |       m.merged_op = f.op AND
      |         (m.merged_value = f.value OR
      |          (m.merged_value IS NULL AND (f.value IS NULL OR f.op = 'delete'))) AS matches_full
      |FROM merged m JOIN full_c f ON f.user_id = m.user_id
      |ORDER BY m.user_id""".stripMargin) { (s, dir) =>
    val ops = t(s, dir, "events")
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("event_type") === "error", "delete").otherwise("upsert").as("op"))
    val us = unix_micros(col("ts"))
    val span = col("mx") - col("mn")
    val cut = ops.agg(min(us).as("mn"), max(us).as("mx"))
      .select((col("mn") + (span - pmod(span, lit(2))) / 2).cast("long").as("cut_us"))
    val ord = struct(col("ts"), col("event_id"))
    def compact(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id")
        .agg(max_by(struct(col("op"), col("value")), ord).as("last"))
        .select(col("user_id"), col("last.op").as("op"), col("last.value").as("value"))
    val withCut = ops.crossJoin(broadcast(cut))
    val base = compact(withCut.filter(us <= col("cut_us")))
    val delta = compact(withCut.filter(us > col("cut_us")))
    val fullC = compact(ops)
    val merged = base.as("b")
      .join(delta.as("d"), col("b.user_id") === col("d.user_id"), "full_outer")
      .select(coalesce(col("d.user_id"), col("b.user_id")).as("user_id"),
        col("b.op").as("base_op"), col("b.value").as("base_value"),
        col("d.op").as("delta_op"), col("d.value").as("delta_value"),
        coalesce(col("d.op"), col("b.op")).as("merged_op"),
        when(coalesce(col("d.op"), col("b.op")) === "delete", lit(null).cast("double"))
          .otherwise(coalesce(col("d.value"), col("b.value"))).as("merged_value"))
    merged.as("m").join(fullC.as("f"), Seq("user_id"))
      .select(col("user_id"), col("base_op"), col("base_value"),
        col("delta_op"), col("delta_value"), col("merged_op"), col("merged_value"),
        (col("merged_op") === "delete").as("merged_deleted"),
        (col("merged_op") === col("f.op") &&
          (col("merged_value") === col("f.value") ||
            (col("merged_value").isNull &&
              (col("f.value").isNull || col("f.op") === "delete")))).as("matches_full"))
      .orderBy("user_id")
  }

  /** CMS JOIN-CARDINALITY ESTIMATE — the optimizer primitive that prices
    * a join before running it: |A join B on k| = sum_k cntA(k)*cntB(k),
    * estimated as the count-min INNER PRODUCT min_r sum_cell a[r]*b[r]
    * (Cormode-Muthukrishnan) from two fixed 4x512 banks, GRADED against
    * the exactly-computed true size. The inner-product estimate inherits
    * the one-sided guarantee (every true pair lands in agreeing cells, so
    * estimate >= truth — collisions only add). The two relations are the
    * per-user signup and purchase counts; the sketch answer needs only
    * the two 2048-counter banks — at 100 TB each side's bank is one
    * map-side-combined aggregation and the estimate itself is a
    * 2048-row join, while the exact answer needs the full keyed join. */
  val cmsJoinSize: Q = {
    import graft.functions.Sketch
    def cellsSql(tbl: String) = (0 until Sketch.CmsRows).map(i =>
      s"SELECT user_id, cnt, $i AS r, CAST(('0x' || substr(md5('cm$i:' || " +
        s"CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % ${Sketch.CmsWidth} " +
        s"AS cell FROM $tbl").mkString("\n  UNION ALL\n  ")
    Q(
      "q_cms_join_size",
      s"""WITH a AS (SELECT user_id, COUNT(*) AS cnt FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |b AS (SELECT user_id, COUNT(*) AS cnt FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id),
        |pa AS (
        |  ${cellsSql("a")}),
        |pb AS (
        |  ${cellsSql("b")}),
        |ca AS (SELECT r, cell, CAST(SUM(cnt) AS BIGINT) AS csa FROM pa GROUP BY r, cell),
        |cb AS (SELECT r, cell, CAST(SUM(cnt) AS BIGINT) AS csb FROM pb GROUP BY r, cell),
        |ip AS (SELECT ca.r, CAST(SUM(ca.csa * cb.csb) AS BIGINT) AS dot
        |       FROM ca JOIN cb ON cb.r = ca.r AND cb.cell = ca.cell GROUP BY ca.r),
        |exact AS (SELECT CAST(COALESCE(SUM(a.cnt * b.cnt), 0) AS BIGINT) AS true_size
        |          FROM a JOIN b ON b.user_id = a.user_id)
        |SELECT e.true_size, CAST(MIN(ip.dot) AS BIGINT) AS cms_estimate,
        |       CAST(MIN(ip.dot) AS BIGINT) - e.true_size AS overestimate
        |FROM ip, exact e GROUP BY e.true_size""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      def side(tp: String) = ev.filter(col("event_type") === tp)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      def bank(df: org.apache.spark.sql.DataFrame, out: String) = df
        .select(col("cnt"), Sketch.cmsCells(col("user_id")).as("p"))
        .select(col("cnt"), col("p.r").as("r"), col("p.cell").as("cell"))
        .groupBy("r", "cell").agg(sum("cnt").as(out))
      val a = side("signup")
      val b = side("purchase")
      val ip = bank(a, "csa").join(bank(b, "csb"), Seq("r", "cell"))
        .groupBy("r").agg(sum(col("csa") * col("csb")).as("dot"))
      val exact = a.as("a")
        .join(b.as("b"), col("a.user_id") === col("b.user_id"))
        .agg(coalesce(sum(col("a.cnt") * col("b.cnt")), lit(0L))
          .cast("long").as("true_size"))
      // grouped by the 1-row exact side, as the oracle does: with no
      // banked cell on one side there is no ip row, so no output row
      ip.crossJoin(exact) // <= 4 rows x 1 row
        .groupBy("true_size").agg(min(col("dot")).cast("long").as("cms_estimate"))
        .select(col("true_size"), col("cms_estimate"),
          (col("cms_estimate") - col("true_size")).as("overestimate"))
    }
  }

  /** SESSION CONCURRENCY — how many user sessions are simultaneously open
    * in each hour: the load/capacity metric an ops dashboard heads with,
    * and the INTERVAL-OVERLAP aggregation pattern (a session [start, end)
    * counts in every hour it overlaps). Sessions are the same half-open
    * 10-minute-gap windows as q_window_session.
    *
    * Shape at 100 TB: the sweep-line formulation would need one global
    * time order; instead each session expands to the hour buckets it
    * overlaps (a per-row `sequence` bounded by session DURATION — minutes,
    * for a 10-minute-gap session — never by corpus size) and one hash
    * aggregation counts per bucket: the q_window_sliding expansion idiom
    * applied to variable intervals. End is exclusive, so a session ending
    * exactly on the hour does not count in it (the -1 microsecond). */
  val sessionConcurrency: Q = Q(
    "q_session_concurrency",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN LAG(ts) OVER w IS NULL
      |                OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, MIN(ts) AS s_start,
      |         MAX(ts) + INTERVAL 10 MINUTE AS s_end
      |  FROM (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |        FROM flagged)
      |  GROUP BY user_id, sid),
      |hours AS (
      |  SELECT unnest(generate_series(date_trunc('hour', s_start),
      |           date_trunc('hour', s_end - INTERVAL 1 MICROSECOND),
      |           INTERVAL 1 HOUR)) AS wstart
      |  FROM sessions)
      |SELECT wstart, COUNT(*) AS n_concurrent
      |FROM hours GROUP BY wstart ORDER BY wstart""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(explode(sequence(
        date_trunc("hour", col("w.start")),
        date_trunc("hour", col("w.end") - expr("INTERVAL 1 MICROSECOND")),
        expr("INTERVAL 1 HOUR"))).as("wstart"))
      .groupBy("wstart").agg(count(lit(1)).as("n_concurrent"))
  }

  /** LEAKAGE-SAFE LABEL CONSTRUCTION — the supervised-training-set
    * constructor every churn/propensity pipeline runs, built so no future
    * information can reach a feature: the stream splits at the midpoint
    * cutoff (the q_ks_drift epoch cut), FEATURES aggregate strictly-before
    * rows only (event count, purchase count, recency in whole days at the
    * cutoff), the LABEL is "purchased strictly after", and users with no
    * pre-cutoff history are EXCLUDED rather than emitted with empty
    * features — they would be unscorable at serving time. The temporal
    * complement of q_pit_join (which makes point-in-time FEATURES safe;
    * this makes the LABEL WINDOW safe) and q_split_leakage (which detects
    * leakage after the fact).
    *
    * All-integer: microsecond epochs, day recency via integer DIV, a 0/1
    * label from a keyed LEFT join against the distinct post-cutoff
    * purchasers.
    *
    * Shape at 100 TB: one scan splits on the broadcast 1-row cutoff; the
    * feature side is a map-side-combined per-user aggregation; the label
    * side is a distinct on (user) of the post-cutoff purchase projection;
    * one keyed join. No windows, no sort beyond presentation. */
  val labelWindows: Q = Q(
    "q_label_windows",
    """WITH b AS (SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
      |                  CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi FROM events),
      |pre AS (
      |  SELECT user_id,
      |         COUNT(*) AS n_events_before,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_purchases_before,
      |         CAST(((lo + hi) // 2 - MAX(epoch_us(ts))) // 86400000000
      |              AS BIGINT) AS recency_days
      |  FROM events, b WHERE epoch_us(ts) * 2 < lo + hi
      |  GROUP BY user_id, lo, hi),
      |pos AS (
      |  SELECT DISTINCT user_id FROM events, b
      |  WHERE epoch_us(ts) * 2 >= lo + hi AND event_type = 'purchase')
      |SELECT p.user_id, p.n_events_before, p.n_purchases_before,
      |       p.recency_days,
      |       CAST(CASE WHEN pos.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
      |         AS label
      |FROM pre p LEFT JOIN pos ON pos.user_id = p.user_id
      |ORDER BY p.user_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val cut = ev.crossJoin(broadcast(b)) // 1-row epoch cut
    val pre = cut.filter(unix_micros(col("ts")) * 2 < col("lo") + col("hi"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events_before"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("long").as("n_purchases_before"),
        expr("((MIN(lo) + MIN(hi)) DIV 2 - MAX(unix_micros(ts))) DIV 86400000000")
          .cast("long").as("recency_days"))
    val pos = cut.filter(unix_micros(col("ts")) * 2 >= col("lo") + col("hi") &&
        col("event_type") === "purchase")
      .select(col("user_id"), lit(1L).as("hit")).distinct()
    pre.join(pos, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events_before"), col("n_purchases_before"),
        col("recency_days"),
        when(col("hit").isNull, 0L).otherwise(1L).as("label"))
      .orderBy("user_id")
  }

  /** DISCRETE-LAPLACE COUNT-RELEASE SIMULATION — per-(type, day) event
    * counts perturbed by the two-sided geometric noise SHAPE of the
    * discrete Laplace mechanism (Ghosh-Roughgarden-Sundararajan) at
    * α = 1/2. **This is an engine-equivalence SIMULATION of the release
    * pipeline, NOT a differential-privacy mechanism**: the "noise" is a
    * deterministic public function of the released group key (md5-32 of
    * "dp:<type>:<day>"), so an adversary recomputes it exactly and no ε
    * guarantee of any kind holds. Determinism is what the cross-engine
    * oracle requires; a production deployment replaces the md5 draw with
    * a cryptographically random u ~ U[0, 2³²) per cell — everything
    * downstream of the draw (the inverse-CDF ladder, clamping,
    * post-processing) is the real mechanism and is what this query
    * tests. The ladder is floor(CDF·2³²) — P(k) = (1/3)·2^(−|k|), whose
    * CDF values are exact dyadic thirds, the same literal-table trick as
    * the bootstrap's Poisson draws and the HLL ln table (no libm — both
    * engines evaluate the identical expression, so the release
    * hash-matches). Tails clamp at ±8 (P(|K| ≥ 8) = 2/384 folds into the
    * end buckets). noisy_n floors at 0 (counts are non-negative by
    * post-processing). true_n is emitted for the AUDIT gate only — a
    * production release drops that column.
    *
    * Shape at 100 TB: one fact scan → map-side-combined (type, day)
    * counts; the noise is an in-row expression on the dimension-sized
    * aggregate. Zero extra shuffles over the plain count. */
  val dpCounts: Q = {
    // thresholds t_k = floor(CDF(k) * 2^32) for k = -8..7; u >= last -> +8
    val cdfNum = Seq( // CDF as exact fractions num/384 (k = -8..7)
      1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, // CDF(-8..-1) = 2^(k+8)/384*...
      256L, 320L, 352L, 368L, 376L, 380L, 382L, 383L)
    val thresholds = cdfNum.map(n => (n * 4294967296L) / 384L)
    def ladder(u: String) =
      thresholds.zipWithIndex.map { case (th, i) =>
        s"WHEN $u < ${th}L THEN ${i - 8}L"
      }.mkString("CASE ", " ", " ELSE 8L END")
    def ladderSql(u: String) =
      thresholds.zipWithIndex.map { case (th, i) =>
        s"WHEN $u < $th THEN ${i - 8}"
      }.mkString("CASE ", " ", " ELSE 8 END")
    Q(
      "q_dp_counts",
      s"""WITH c AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |u AS (
        |  SELECT event_type, day, n,
        |         CAST(('0x' || substr(md5('dp:' || event_type || ':'
        |                || CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        |  FROM c),
        |z AS (SELECT event_type, day, n, ${ladderSql("u")} AS noise FROM u)
        |SELECT event_type, day, CAST(n AS BIGINT) AS true_n,
        |       CAST(noise AS BIGINT) AS noise,
        |       GREATEST(CAST(n + noise AS BIGINT), 0) AS noisy_n
        |FROM z ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("u", graft.functions.Text.md5Hash32(
          concat(lit("dp:"), col("event_type"), lit(":"),
            col("day").cast("string"))))
        .withColumn("noise", expr(ladder("u")))
        .select(col("event_type"), col("day"), col("n").as("true_n"),
          col("noise"),
          greatest(col("n") + col("noise"), lit(0L)).as("noisy_n"))
        .orderBy("event_type", "day")
    }
  }

  val all: Seq[Q] =
    Seq(jsonExtract, windowTumbling, windowSliding, windowSession, eventFunnel,
      retentionCohorts, sessionTrajectories, hllDistinct, hllByGroup,
      bloomPrune, cmsHeavy, kmvDistinct, cdcMerge, cmsJoinSize,
      sessionConcurrency, labelWindows, dpCounts)
}
