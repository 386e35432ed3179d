package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables.t

/** Operational analytics a 100-TB table lives on: one-pass data profiling
  * (the ANALYZE/validation primitive), Z-order layout quality (the
  * multi-dimensional clustering that makes min/max file skipping work for
  * 2-D predicates), and windowed anomaly detection over the event stream.
  * Engine-own surface (the reference's closest analogue is its df.info()
  * inspection step, main.py:74-88) in the spirit of SURVEY §7.5.
  */
object ProfileQueries {

  /** ONE-PASS TABLE PROFILE — per-column null count, exact distinct count,
    * and typed min/max for a representative column set of `lineitem`
    * (bigint, double, string, timestamp), emitted one row per column.
    *
    * Shape: ONE hash-aggregation pass computes every fixed-length
    * statistic (Spark plans the multi-distinct via a single Expand — rows
    * multiply by the distinct column count BEFORE partial aggregation,
    * the documented trade for a single scan; at 100 TB swap exact
    * distincts for the HLL sketch this engine already ships,
    * q_hll_distinct, to drop the Expand). String min/max would put a
    * VAR-LENGTH field in the aggregate buffer and demote the whole
    * Expanded pass to SortAggregate (measured 15s -> 1s at sf0.1), so
    * each string column instead reduces to its DISTINCT set first (hash —
    * var-length keys are fine) and min/max aggregate that handful of
    * rows. The per-column rows are then an in-row `explode` of the single
    * joined aggregate row — no union of full scans.
    *
    * Determinism: counts are integers; min/max SELECT existing values
    * (never arithmetic), so doubles/timestamps are bit-exact picks. */
  val tableProfile: Q = Q(
    "q_table_profile",
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |    COUNT(*) - COUNT(l_orderkey) AS nn_ok,
      |    COUNT(DISTINCT l_orderkey) AS nd_ok,
      |    CAST(MIN(l_orderkey) AS DOUBLE) AS mn_ok,
      |    CAST(MAX(l_orderkey) AS DOUBLE) AS mx_ok,
      |    COUNT(*) - COUNT(l_partkey) AS nn_pk,
      |    COUNT(DISTINCT l_partkey) AS nd_pk,
      |    CAST(MIN(l_partkey) AS DOUBLE) AS mn_pk,
      |    CAST(MAX(l_partkey) AS DOUBLE) AS mx_pk,
      |    COUNT(*) - COUNT(l_quantity) AS nn_q,
      |    COUNT(DISTINCT l_quantity) AS nd_q,
      |    MIN(l_quantity) AS mn_q, MAX(l_quantity) AS mx_q,
      |    COUNT(*) - COUNT(l_extendedprice) AS nn_ep,
      |    COUNT(DISTINCT l_extendedprice) AS nd_ep,
      |    MIN(l_extendedprice) AS mn_ep, MAX(l_extendedprice) AS mx_ep,
      |    COUNT(*) - COUNT(l_returnflag) AS nn_rf,
      |    COUNT(DISTINCT l_returnflag) AS nd_rf,
      |    MIN(l_returnflag) AS mn_rf, MAX(l_returnflag) AS mx_rf,
      |    COUNT(*) - COUNT(l_linestatus) AS nn_ls,
      |    COUNT(DISTINCT l_linestatus) AS nd_ls,
      |    MIN(l_linestatus) AS mn_ls, MAX(l_linestatus) AS mx_ls,
      |    COUNT(*) - COUNT(l_shipdate) AS nn_sd,
      |    COUNT(DISTINCT l_shipdate) AS nd_sd,
      |    MIN(l_shipdate) AS mn_sd, MAX(l_shipdate) AS mx_sd
      |  FROM lineitem)
      |SELECT 'l_orderkey' AS col_name, n_rows, CAST(nn_ok AS BIGINT) AS n_nulls,
      |       CAST(nd_ok AS BIGINT) AS n_distinct, mn_ok AS min_num, mx_ok AS max_num,
      |       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
      |       CAST(NULL AS TIMESTAMP) AS min_ts, CAST(NULL AS TIMESTAMP) AS max_ts FROM a
      |UNION ALL SELECT 'l_partkey', n_rows, CAST(nn_pk AS BIGINT), CAST(nd_pk AS BIGINT),
      |       mn_pk, mx_pk, NULL, NULL, NULL, NULL FROM a
      |UNION ALL SELECT 'l_quantity', n_rows, CAST(nn_q AS BIGINT), CAST(nd_q AS BIGINT),
      |       mn_q, mx_q, NULL, NULL, NULL, NULL FROM a
      |UNION ALL SELECT 'l_extendedprice', n_rows, CAST(nn_ep AS BIGINT), CAST(nd_ep AS BIGINT),
      |       mn_ep, mx_ep, NULL, NULL, NULL, NULL FROM a
      |UNION ALL SELECT 'l_returnflag', n_rows, CAST(nn_rf AS BIGINT), CAST(nd_rf AS BIGINT),
      |       NULL, NULL, mn_rf, mx_rf, NULL, NULL FROM a
      |UNION ALL SELECT 'l_linestatus', n_rows, CAST(nn_ls AS BIGINT), CAST(nd_ls AS BIGINT),
      |       NULL, NULL, mn_ls, mx_ls, NULL, NULL FROM a
      |UNION ALL SELECT 'l_shipdate', n_rows, CAST(nn_sd AS BIGINT), CAST(nd_sd AS BIGINT),
      |       NULL, NULL, NULL, NULL, mn_sd, mx_sd FROM a
      |ORDER BY col_name""".stripMargin) { (s, dir) =>
    // ONE branch per column, unioned: each branch scans ONLY its column
    // (parquet prunes per branch, so the 7 scans read the same total
    // bytes as one 7-column scan) and pre-reduces it with a per-VALUE
    // groupBy — map-side partial aggregation collapses each scan
    // partition to its distinct values, so the exchange carries values,
    // never rows. The per-column stats then fall out of the tiny
    // value-count table: n_rows = sum of counts (the null group
    // included), n_nulls = the null group's count, n_distinct = number
    // of non-null groups (countDistinct semantics), min/max pick from
    // the group keys. No Expand anywhere — the previous single-pass
    // form multiplied every row x8 through the multi-distinct Expand
    // BEFORE partial aggregation, fused onto the 3-partition scan
    // (measured: 2.8s on 3 of 32 cores at sf0.1; a spread ahead of it
    // was measured too, but ships the WHOLE table through an exchange,
    // +45MB at sf0.1 — wrong trade at 100 TB). The union branches are
    // independent leaf stages, so AQE materializes them CONCURRENTLY —
    // the profile saturates the machine instead of three cores, and at
    // 100 TB each branch is an ordinary columnar scan + partial
    // aggregate (swap exact distincts for the engine's HLL sketch,
    // q_hll_distinct, when approximate counts suffice).
    val li = t(s, dir, "lineitem")
    def branch(c: String, kind: String) = {
      val vc = li.select(col(c)).groupBy(col(c))
        .agg(count(lit(1)).as("cnt"))
      def pick(tpe: String, on: String, mm: String) =
        (if (kind == on) col(mm) else lit(null)).cast(tpe)
      vc.agg(
        coalesce(sum(col("cnt")), lit(0L)).cast("long").as("n_rows"),
        coalesce(sum(when(col(c).isNull, col("cnt"))), lit(0L))
          .cast("long").as("n_nulls"),
        count(when(col(c).isNotNull, lit(1))).cast("long").as("n_distinct"),
        min(col(c)).as("mn"), max(col(c)).as("mx"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"),
          pick("double", "num", "mn").as("min_num"),
          pick("double", "num", "mx").as("max_num"),
          pick("string", "str", "mn").as("min_str"),
          pick("string", "str", "mx").as("max_str"),
          pick("timestamp", "ts", "mn").as("min_ts"),
          pick("timestamp", "ts", "mx").as("max_ts"))
    }
    branch("l_orderkey", "num")
      .unionAll(branch("l_partkey", "num"))
      .unionAll(branch("l_quantity", "num"))
      .unionAll(branch("l_extendedprice", "num"))
      .unionAll(branch("l_returnflag", "str"))
      .unionAll(branch("l_linestatus", "str"))
      .unionAll(branch("l_shipdate", "ts"))
      .orderBy(col("col_name"))
  }

  /** Z-ORDER LAYOUT QUALITY — normalize two dimensions to 8 bits each by
    * their observed min/max range (interleaving RAW values degenerates to
    * a 1-D sort whenever one dimension's domain occupies fewer high bits
    * than the other — which is why production Z-ordering, Delta/Iceberg
    * style, interleaves range-normalized or ranked values), weave them
    * into a 16-bit Morton code with the classic magic-number bit spread,
    * range-bucket rows by the code (each bucket modeling one file of a
    * `repartitionByRange(zval)` write), and grade a fixed 2-D box
    * predicate against each bucket's min/max column stats — exactly the
    * pruning decision a lakehouse engine makes from parquet footer
    * statistics. `touched` = the bucket's (min,max) envelope intersects
    * the box; `matching_rows` = rows truly inside it. Morton buckets are
    * axis-aligned tiles, so a box selective in EITHER dimension skips
    * most buckets — a 1-D sort serves only its own column (ProfileSpec
    * grades both layouts against a two-query workload on the same data).
    *
    * Everything is integer arithmetic — min/max are exact value picks and
    * the normalization is one integer multiply/DIV — bit-identical across
    * engines. Shape at 100 TB: the global min/max is a 1-row aggregate
    * broadcast back (or simply read from table-level stats); the code is
    * then a per-row codegen expression; bucket stats are one
    * map-side-combined aggregation. The real write is
    * `repartitionByRange` on zval + the per-file min/max the parquet
    * footer already keeps. */
  val zorderLayout: Q = Q(
    "q_zorder_layout",
    """WITH z0 AS (SELECT l_partkey AS px, l_suppkey AS sx FROM lineitem),
      |mm AS (SELECT MIN(px) AS mnp, GREATEST(MAX(px) - MIN(px), 1) AS rgp,
      |              MIN(sx) AS mns, GREATEST(MAX(sx) - MIN(sx), 1) AS rgs
      |       FROM z0),
      |nrm AS (SELECT px, sx, (px - mnp) * 255 // rgp AS pn,
      |               (sx - mns) * 255 // rgs AS sn FROM z0, mm),
      |s1 AS (SELECT px, sx, ((pn | (pn << 4)) & 3855) AS ax,
      |               ((sn | (sn << 4)) & 3855) AS bx FROM nrm),
      |s2 AS (SELECT px, sx, ((ax | (ax << 2)) & 13107) AS ax,
      |               ((bx | (bx << 2)) & 13107) AS bx FROM s1),
      |s3 AS (SELECT px, sx, ((ax | (ax << 1)) & 21845) AS ax,
      |               ((bx | (bx << 1)) & 21845) AS bx FROM s2),
      |z AS (SELECT px, sx, (ax | (bx << 1)) AS zval FROM s3),
      |bkt AS (SELECT zval >> 10 AS bucket, COUNT(*) AS n_rows,
      |               MIN(px) AS min_px, MAX(px) AS max_px,
      |               MIN(sx) AS min_sx, MAX(sx) AS max_sx,
      |               CAST(SUM(CASE WHEN px BETWEEN 100 AND 160
      |                              AND sx BETWEEN 30 AND 90
      |                             THEN 1 ELSE 0 END) AS BIGINT) AS matching_rows
      |        FROM z GROUP BY zval >> 10)
      |SELECT bucket, n_rows, min_px, max_px, min_sx, max_sx, matching_rows,
      |       (min_px <= 160 AND max_px >= 100 AND
      |        min_sx <= 90 AND max_sx >= 30) AS touched
      |FROM bkt ORDER BY bucket""".stripMargin) { (s, dir) =>
    val z0 = t(s, dir, "lineitem")
      .select(col("l_partkey").as("px"), col("l_suppkey").as("sx"))
    val mm = z0.agg(min(col("px")).as("mnp"),
      greatest(max(col("px")) - min(col("px")), lit(1L)).as("rgp"),
      min(col("sx")).as("mns"),
      greatest(max(col("sx")) - min(col("sx")), lit(1L)).as("rgs"))
    z0.crossJoin(broadcast(mm)) // 1-row normalization constants
      .withColumn("pn", expr("(px - mnp) * 255 DIV rgp"))
      .withColumn("sn", expr("(sx - mns) * 255 DIV rgs"))
      .withColumn("ax", expr("(pn | shiftleft(pn, 4)) & 3855"))
      .withColumn("bx", expr("(sn | shiftleft(sn, 4)) & 3855"))
      .withColumn("ax", expr("(ax | shiftleft(ax, 2)) & 13107"))
      .withColumn("bx", expr("(bx | shiftleft(bx, 2)) & 13107"))
      .withColumn("ax", expr("(ax | shiftleft(ax, 1)) & 21845"))
      .withColumn("bx", expr("(bx | shiftleft(bx, 1)) & 21845"))
      .withColumn("zval", expr("ax | shiftleft(bx, 1)"))
      .groupBy(expr("zval >> 10").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("px")).as("min_px"), max(col("px")).as("max_px"),
        min(col("sx")).as("min_sx"), max(col("sx")).as("max_sx"),
        sum(when(col("px").between(100, 160) && col("sx").between(30, 90), 1L)
          .otherwise(0L)).as("matching_rows"))
      .select(col("bucket"), col("n_rows"), col("min_px"), col("max_px"),
        col("min_sx"), col("max_sx"), col("matching_rows"),
        (col("min_px") <= 160 && col("max_px") >= 100 &&
          col("min_sx") <= 90 && col("max_sx") >= 30).as("touched"))
      .orderBy(col("bucket"))
  }

  /** WINDOWED ANOMALY DETECTION — flag events whose value deviates more
    * than 2 sigma from the trailing window of that user's previous 8
    * events (the monitoring primitive behind data-drift and abuse
    * detection). The 2-sigma test runs ENTIRELY in integers: with
    * x = round(value*100) and the window's (n, s1=sum x, s2=sum x^2),
    *   |x - mean| > 2*sigma  <=>  (n*x - s1)^2 > 4*(n*s2 - s1^2)
    * (multiply both sides by n^2; variance = (n*s2 - s1^2)/n^2). No
    * square root, no float — the flag is bit-identical across engines.
    * Warm-up rows (fewer than 4 predecessors) are skipped.
    *
    * Shape at 100 TB: one window per user key with a BOUNDED 8-row frame
    * — partition-local sort on (ts, event_id), no global sort, state
    * bounded by the frame. The same ring-buffer-of-8 runs as a streaming
    * twin (graft.streaming) with identical flags. */
  val anomalyZscore: Q = Q(
    "q_anomaly_zscore",
    """WITH v AS (
      |  SELECT event_id, user_id, event_type, value,
      |         CAST(ROUND(value * 100) AS BIGINT) AS x, ts
      |  FROM events),
      |w AS (
      |  SELECT *, CAST(COUNT(x) OVER win AS BIGINT) AS n,
      |         CAST(SUM(x) OVER win AS BIGINT) AS s1,
      |         CAST(SUM(x * x) OVER win AS BIGINT) AS s2
      |  FROM v
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, user_id, event_type, value, n AS n_prev,
      |       (n * x - s1) * (n * x - s1) AS dev2_scaled,
      |       4 * (n * s2 - s1 * s1) AS thresh_scaled
      |FROM w
      |WHERE n >= 4 AND (n * x - s1) * (n * x - s1) > 4 * (n * s2 - s1 * s1)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("x"), col("ts"))
    val win = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-8, -1)
    val w = v
      .withColumn("n", count(col("x")).over(win))
      .withColumn("s1", sum(col("x")).over(win))
      .withColumn("s2", sum(col("x") * col("x")).over(win))
    val dev2 = (col("n") * col("x") - col("s1")) *
      (col("n") * col("x") - col("s1"))
    val thresh = lit(4L) * (col("n") * col("s2") - col("s1") * col("s1"))
    w.filter(col("n") >= 4 && dev2 > thresh)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("n").as("n_prev"), dev2.as("dev2_scaled"),
        thresh.as("thresh_scaled"))
      .orderBy(col("event_id"))
  }

  /** DISTRIBUTION-DRIFT DETECTION — a quantized chi-square statistic
    * between two time epochs of the event stream, per event_type: the
    * monitoring primitive behind "did this week's data shift?" gates on a
    * training pipeline. The stream splits at the exact integer midpoint of
    * its microsecond time range (the q_cdc_merge cut), values histogram
    * into 8 fixed-width buckets, and each epoch's bucket mass is an exact
    * parts-per-million integer; the statistic is
    * sum((p1-p2)^2 DIV max(p1+p2, 1)) over buckets — all integer
    * arithmetic (a float PSI needs ln; the chi-square form needs nothing
    * beyond DIV), so the drift score is bit-identical across engines.
    * Quantization error is bounded by the ppm scale and is part of the
    * operator's contract, not noise.
    *
    * Shape at 100 TB: two map-side-combined aggregations ((type, bucket,
    * epoch) counts, then per-type totals joined back by broadcast) — no
    * window, no sort, linear in the stream. */
  val driftChisq: Q = Q(
    "q_drift_chisq",
    """WITH b AS (SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
      |                  CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi FROM events),
      |v AS (SELECT event_type,
      |             LEAST(CAST(ROUND(value * 100) AS BIGINT) // 2500, 7) AS bucket,
      |             CASE WHEN epoch_us(ts) * 2 < lo + hi THEN 0 ELSE 1 END AS epoch
      |      FROM events, b),
      |c AS (SELECT event_type, bucket,
      |             CAST(SUM(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |             CAST(SUM(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |      FROM v GROUP BY event_type, bucket),
      |n AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
      |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c GROUP BY event_type),
      |p AS (SELECT c.event_type, c.bucket, c.c1, c.c2,
      |             c.c1 * 1000000 // n.n1 AS p1_ppm,
      |             c.c2 * 1000000 // n.n2 AS p2_ppm
      |      FROM c JOIN n ON n.event_type = c.event_type)
      |SELECT event_type,
      |       CAST(SUM((p1_ppm - p2_ppm) * (p1_ppm - p2_ppm)
      |                // GREATEST(p1_ppm + p2_ppm, 1)) AS BIGINT) AS chisq_ppm,
      |       COUNT(*) AS n_buckets
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val v = ev.crossJoin(broadcast(b)) // 1-row epoch cut
      .select(col("event_type"),
        least(expr("CAST(ROUND(value * 100) AS BIGINT) DIV 2500"), lit(7L))
          .as("bucket"),
        when(unix_micros(col("ts")) * 2 < col("lo") + col("hi"), 0L)
          .otherwise(1L).as("epoch"))
    val c = v.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("epoch") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("epoch") === 1, 1L).otherwise(0L)).as("c2"))
    val n = c.groupBy(col("event_type").as("ntype"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    c.join(broadcast(n), col("event_type") === col("ntype"))
      .select(col("event_type"), col("bucket"),
        expr("c1 * 1000000 DIV n1").as("p1_ppm"),
        expr("c2 * 1000000 DIV n2").as("p2_ppm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("(p1_ppm - p2_ppm) * (p1_ppm - p2_ppm) DIV " +
          "GREATEST(p1_ppm + p2_ppm, 1)")).cast("long").as("chisq_ppm"),
        count(lit(1)).as("n_buckets"))
      .orderBy("event_type")
  }

  /** WINSORIZATION (robust clipping at exact p01/p99 per event_type) —
    * the outlier-taming normalization a feature pipeline applies before
    * training. Values quantize to integers (round(value*100), the
    * engine's standard), the per-type exact percentiles interpolate over
    * integers (the q_length_quantiles precedent — Spark `percentile` ==
    * DuckDB `quantile_cont`), the 5-row percentile table broadcasts back
    * onto the stream, and clipped means use the Det decimal contract.
    *
    * Scale note (same contract as q_length_quantiles): EXACT percentiles
    * buffer per-group values, which is fine for a bounded-cardinality
    * group-by; the unbounded-domain path is the oracle-checked histogram
    * sketch (q_quantile_sketch), whose buckets drop in here unchanged. */
  val winsorize: Q = Q(
    "q_winsorize",
    """WITH v AS (SELECT event_type,
      |                  CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
      |p AS (SELECT event_type, quantile_cont(x, 0.01) AS p01,
      |             quantile_cont(x, 0.99) AS p99 FROM v GROUP BY event_type),
      |c AS (SELECT v.event_type, v.x,
      |             GREATEST(LEAST(CAST(v.x AS DOUBLE), p.p99), p.p01) AS clip,
      |             p.p01, p.p99
      |      FROM v JOIN p ON p.event_type = v.event_type)
      |SELECT event_type, COUNT(*) AS n_events,
      |       MIN(p01) AS p01, MIN(p99) AS p99,
      |       CAST(SUM(CASE WHEN CAST(x AS DOUBLE) < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
      |       CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
      |       CAST(SUM(x) AS DOUBLE) / (100 * COUNT(*)) AS mean_raw,
      |       CAST(SUM(CAST(clip / 100 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean_winsorized
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val v = t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("x"))
    val p = v.groupBy(col("event_type").as("ptype"))
      .agg(percentile(col("x"), lit(0.01)).as("p01"),
        percentile(col("x"), lit(0.99)).as("p99"))
    val clip = greatest(least(col("x").cast("double"), col("p99")), col("p01"))
    v.join(broadcast(p), col("event_type") === col("ptype"))
      .select(col("event_type"), col("x"), clip.as("clip"),
        col("p01"), col("p99"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("p01")).as("p01"), min(col("p99")).as("p99"),
        sum(when(col("x").cast("double") < col("p01"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("x").cast("double") > col("p99"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        (sum(col("x")).cast("double") / (count(lit(1)) * 100)).as("mean_raw"),
        (sum((col("clip") / 100).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double") / count(lit(1))).as("mean_winsorized"))
  }

  /** SOURCE CONCENTRATION (HHI) — the Herfindahl-Hirschman index of the
    * corpus's source mix plus the largest single share: the one-number
    * balance diagnostic a data-mixture pipeline watches (a corpus drifting
    * toward one crawl/domain shows up here before quality metrics move).
    * Shares are exact ppm integers; HHI = sum(share^2)/1e6, all integer.
    * Two tiny aggregations over the source dimension. */
  val sourceHhi: Q = Q(
    "q_source_hhi",
    """WITH s AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM s)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
      |       CAST(SUM((n * 1000000 // tot) * (n * 1000000 // tot)) // 1000000 AS BIGINT) AS hhi_ppm,
      |       CAST(MAX(n * 1000000 // tot) AS BIGINT) AS top_share_ppm
      |FROM s, t""".stripMargin) { (s, dir) =>
    val src = t(s, dir, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val tot = src.agg(sum(col("n")).cast("long").as("tot"))
    src.crossJoin(broadcast(tot)) // 1-row total
      .select(expr("n * 1000000 DIV tot").as("share"))
      .agg(count(lit(1)).cast("long").as("n_sources"),
        expr("CAST(SUM(share * share) DIV 1000000 AS BIGINT)").as("hhi_ppm"),
        max(col("share")).as("top_share_ppm"))
  }

  /** GROUPED SKYLINE (Pareto frontier) — per brand, the parts no other
    * part of that brand dominates on (lower price, larger size): the
    * preference-query operator behind best-value ranking and
    * multi-objective candidate pruning (Borzsony/Kossmann/Stocker ICDE'01).
    * For 2 objectives the frontier needs NO pairwise dominance join: sort
    * each group by price and a point survives iff no strictly-cheaper row
    * reaches its size (running MAX over the strictly-preceding RANGE) and
    * no same-price row beats it (MAX over the price tie group) — two
    * window passes, O(n log n), where the textbook NOT EXISTS self-join is
    * quadratic.
    *
    * Determinism: prices compare as exact integer cents (ROUND(x*100) —
    * the double product is identical in both engines and both round
    * half-up for positives); ties keep ALL non-dominated rows, so no
    * tie-break is ever taken.
    *
    * Shape at 100 TB: the window partitions by brand — the distributed
    * skyline's local-frontier step with the partition AS the group, so the
    * result is exact; dominated rows (the vast majority) never leave their
    * partition. */
  val skyline: Q = Q(
    "q_skyline",
    """WITH p AS (
      |  SELECT p_brand, p_partkey, p_size, p_retailprice,
      |         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
      |  FROM part),
      |fl AS (
      |  SELECT *,
      |         MAX(p_size) OVER (PARTITION BY p_brand ORDER BY cents
      |           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper,
      |         MAX(p_size) OVER (PARTITION BY p_brand, cents) AS best_same
      |  FROM p)
      |SELECT p_brand, p_partkey, p_size, p_retailprice
      |FROM fl
      |WHERE (best_cheaper IS NULL OR best_cheaper < p_size)
      |  AND best_same <= p_size
      |ORDER BY p_brand, cents, p_partkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cents = round(col("p_retailprice") * 100).cast("long")
    val wCheaper = Window.partitionBy("p_brand").orderBy("cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy("p_brand", "cents")
    t(s, dir, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        col("p_retailprice"), cents.as("cents"))
      .withColumn("best_cheaper", max(col("p_size")).over(wCheaper))
      .withColumn("best_same", max(col("p_size")).over(wSame))
      .filter((col("best_cheaper").isNull || col("best_cheaper") < col("p_size")) &&
        col("best_same") <= col("p_size"))
      .orderBy(col("p_brand"), col("cents"), col("p_partkey"))
      .select(col("p_brand"), col("p_partkey"), col("p_size"), col("p_retailprice"))
  }

  /** JOIN-KEY SKEW REPORT — per candidate join key, the row-distribution
    * shape a shuffle planner cares about: key count, total rows, max
    * rows-per-key, mean (x100, exact integer), and the share of rows held
    * by the top-10 keys in exact ppm. The diagnostic that decides whether
    * a key needs salting or AQE skew-join handling BEFORE the 100-TB
    * shuffle runs.
    *
    * Shape: per key, one map-side-combined COUNT; per report row, one
    * bounded TakeOrdered(10) for the top-share — ties at the boundary sum
    * identically, so the ppm is deterministic without a tie-break. */
  val keySkewReport: Q = {
    val keys = Seq(
      ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      ("orders.o_custkey", "orders", "o_custkey"),
      ("events.user_id", "events", "user_id"))
    def keySql(e: (String, String, String)) = {
      val (name, tbl, k) = e
      s"""SELECT '$name' AS key_col,
         |       CAST(COUNT(*) AS BIGINT) AS n_keys,
         |       CAST(SUM(c) AS BIGINT) AS n_rows,
         |       CAST(MAX(c) AS BIGINT) AS max_rows,
         |       CAST(SUM(c) * 100 // COUNT(*) AS BIGINT) AS mean_x100,
         |       CAST((SELECT SUM(c) FROM (SELECT c FROM (
         |              SELECT COUNT(*) AS c FROM $tbl GROUP BY $k)
         |            ORDER BY c DESC LIMIT 10)) * 1000000 // SUM(c) AS BIGINT)
         |         AS top10_share_ppm
         |FROM (SELECT COUNT(*) AS c FROM $tbl GROUP BY $k)""".stripMargin
    }
    Q(
      "q_key_skew_report",
      keys.map(keySql).mkString("", "\nUNION ALL\n", "\nORDER BY key_col")) {
      (s, dir) =>
        def report(e: (String, String, String)): org.apache.spark.sql.DataFrame = {
          val (name, tbl, k) = e
          val counts = t(s, dir, tbl).groupBy(col(k)).agg(count(lit(1)).as("c"))
          val top10 = counts.orderBy(col("c").desc).limit(10)
            .agg(sum(col("c")).as("top10"))
          counts
            .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
              max(col("c")).as("max_rows"))
            .crossJoin(top10) // 1-row x 1-row
            .select(lit(name).as("key_col"),
              col("n_keys").cast("long").as("n_keys"),
              col("n_rows").cast("long").as("n_rows"),
              col("max_rows").cast("long").as("max_rows"),
              expr("n_rows * 100 DIV n_keys").cast("long").as("mean_x100"),
              expr("top10 * 1000000 DIV n_rows").cast("long").as("top10_share_ppm"))
        }
        keys.map(report).reduce(_ unionAll _)
    }
  }

  /** GROUPED PERCENTILES + threshold gate — per (lang, source) cell of the
    * corpus: exact interpolated p25/p50/p75/p90 of document length, the
    * IQR, and the count of docs above the cell's own p90 — the per-cohort
    * length profile a curation run reads to set PER-GROUP gates (a global
    * quantile over a mixed corpus hides that one crawl's p90 is another's
    * p50; q_length_quantiles profiles per-lang only). The join-back count
    * demonstrates the two-pass threshold-gate pattern: compute bounded
    * per-group thresholds, broadcast them, stream the corpus once against
    * them.
    *
    * Determinism: Spark's exact `percentile` and DuckDB's `quantile_cont`
    * share the same linear-interpolation tree (the q_length_quantiles
    * precedent), so the doubles hash-match; iqr is one subtraction of two
    * such doubles; the gate compares a stored integer against the double
    * threshold — exact in both engines.
    *
    * Shape at 100 TB: exact-percentile state is a per-group value→count
    * map (bounded by the distinct length domain); the thresholds table is
    * one row per (lang, source) cell — bounded by the dimension product,
    * so the join-back is a broadcast hash join against the full scan, and
    * the outlier count map-side combines. For unbounded value domains the
    * engine's q_quantile_sketch histogram is the swap-in. */
  val groupQuantiles: Q = Q(
    "q_group_quantiles",
    """WITH q AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         quantile_cont(n_chars, 0.25) AS p25,
      |         quantile_cont(n_chars, 0.5) AS p50,
      |         quantile_cont(n_chars, 0.75) AS p75,
      |         quantile_cont(n_chars, 0.9) AS p90
      |  FROM documents GROUP BY lang, source),
      |o AS (
      |  SELECT d.lang, d.source, CAST(COUNT(*) AS BIGINT) AS n_above_p90
      |  FROM documents d JOIN q ON q.lang = d.lang AND q.source = d.source
      |  WHERE d.n_chars > q.p90 GROUP BY d.lang, d.source)
      |SELECT q.lang, q.source, q.n_docs, q.p25, q.p50, q.p75, q.p90,
      |       q.p75 - q.p25 AS iqr,
      |       COALESCE(o.n_above_p90, 0) AS n_above_p90
      |FROM q LEFT JOIN o ON o.lang = q.lang AND o.source = q.source
      |ORDER BY q.lang, q.source""".stripMargin) { (s, dir) =>
    val d = t(s, dir, "documents").select(col("lang"), col("source"), col("n_chars"))
    val q = d.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("n_chars"), lit(0.25)).as("p25"),
        percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.75)).as("p75"),
        percentile(col("n_chars"), lit(0.9)).as("p90"))
    val above = d
      .join(broadcast(q.select(col("lang"), col("source"), col("p90"))),
        Seq("lang", "source"))
      .filter(col("n_chars") > col("p90"))
      .groupBy("lang", "source").agg(count(lit(1)).as("n_above_p90"))
    q.join(above, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_docs"),
        col("p25"), col("p50"), col("p75"), col("p90"),
        (col("p75") - col("p25")).as("iqr"),
        coalesce(col("n_above_p90"), lit(0L)).as("n_above_p90"))
      .orderBy("lang", "source")
  }

  /** MEDIAN ABSOLUTE DEVIATION (robust scale) per event_type — median,
    * MAD, and the count of 3-MAD outliers: the robust-statistics
    * companion to q_winsorize (percentile clipping) and q_anomaly_zscore
    * (trailing mean/sigma). Mean/stddev move with the outliers they are
    * supposed to find; median/MAD have a 50% breakdown point, which is
    * why a data-quality monitor alerts on MAD, not sigma.
    *
    * Determinism: values quantize to integer cents (the q_winsorize
    * convention) before the exact interpolated median (Spark `percentile`
    * == DuckDB `quantile_cont`); each deviation is one IEEE subtraction +
    * abs of identical doubles; the second-pass MAD interpolates over
    * those identical doubles; the outlier gate compares against one IEEE
    * product (3 * mad). Every compared number is bit-equal by
    * construction.
    *
    * Shape at 100 TB: two keyed aggregation passes (median, then MAD of
    * deviations) + one broadcast join-back of the bounded per-type
    * threshold table — same posture as q_winsorize; the unbounded-domain
    * swap-in is the q_quantile_sketch histogram. */
  val madRobust: Q = Q(
    "q_mad_robust",
    """WITH v AS (SELECT event_type,
      |                  CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
      |m AS (SELECT event_type, quantile_cont(x, 0.5) AS med
      |      FROM v GROUP BY event_type),
      |d AS (SELECT v.event_type, v.x, m.med,
      |             ABS(CAST(v.x AS DOUBLE) - m.med) AS dev
      |      FROM v JOIN m ON m.event_type = v.event_type),
      |s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |      FROM d GROUP BY event_type)
      |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       MIN(d.med) AS med, MIN(s.mad) AS mad,
      |       CAST(SUM(CASE WHEN d.dev > 3 * s.mad THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers,
      |       MAX(d.dev) AS max_dev
      |FROM d JOIN s ON s.event_type = d.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) { (s, dir) =>
    val v = t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("x"))
    val m = v.groupBy(col("event_type").as("mtype"))
      .agg(percentile(col("x"), lit(0.5)).as("med"))
    val d = v.join(broadcast(m), col("event_type") === col("mtype"))
      .select(col("event_type"), col("med"),
        abs(col("x").cast("double") - col("med")).as("dev"))
    val mad = d.groupBy(col("event_type").as("stype"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    d.join(broadcast(mad), col("event_type") === col("stype"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        max(col("dev")).as("max_dev"))
  }

  /** EQUI-WIDTH HISTOGRAM — per event_type, the value distribution in 10
    * equal-width buckets over the type's own [min, max] range: the
    * DESCRIBE-style distribution profile next to q_table_profile's
    * min/max and q_quantile_sketch's log-spaced buckets (equi-width is
    * what a BI tool draws; log-spaced is what an unbounded domain needs).
    *
    * Determinism: bucket edges derive from integer-cent min/max; the
    * bucket index is floor((x - min) * 10 / span) in PURE INTEGER
    * arithmetic (no double division — a one-ulp edge disagreement would
    * move a row across a bucket), clamped so x = max lands in bucket 9.
    *
    * Shape at 100 TB: one bounded min/max aggregation, broadcast back,
    * one map-side-combined (type, bucket) count — ≤ 10 rows per type. */
  val histEquiwidth: Q = Q(
    "q_hist_equiwidth",
    """WITH v AS (SELECT event_type,
      |                  CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
      |r AS (SELECT event_type, MIN(x) AS lo, MAX(x) AS hi
      |      FROM v GROUP BY event_type),
      |b AS (SELECT v.event_type,
      |             LEAST((v.x - r.lo) * 10 // GREATEST(r.hi - r.lo, 1), 9) AS bucket,
      |             r.lo, r.hi
      |      FROM v JOIN r ON r.event_type = v.event_type)
      |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       MIN(lo) AS lo_cents, MIN(hi) AS hi_cents
      |FROM b GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
    val v = t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("x"))
    val r = v.groupBy(col("event_type").as("rtype"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    v.join(broadcast(r), col("event_type") === col("rtype"))
      .select(col("event_type"),
        least(expr("(x - lo) * 10 DIV GREATEST(hi - lo, 1)"), lit(9L))
          .cast("long").as("bucket"),
        col("lo"), col("hi"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        min(col("lo")).as("lo_cents"), min(col("hi")).as("hi_cents"))
      .orderBy("event_type", "bucket")
  }

  /** EXACT MODE per group — each language's modal source with its count
    * and exact-ppm share: the most-frequent-value profile (pandas
    * `.mode()`, SQL `mode()`) done deterministically — engines disagree
    * on mode() tie-breaks, so the engine spells the tie out: highest
    * count first, then lexicographically smallest value, via a bounded
    * per-group rank window over the (lang, source) count table.
    *
    * Shape at 100 TB: the count table is bounded by the value domain per
    * group (sources, not rows); the window ranks those bounded rows only
    * — never raw data. */
  val modePerGroup: Q = Q(
    "q_mode_per_group",
    """WITH c AS (SELECT lang, source, COUNT(*) AS n
      |           FROM documents GROUP BY lang, source),
      |t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY lang),
      |r AS (SELECT lang, source, n,
      |             ROW_NUMBER() OVER (PARTITION BY lang
      |                                ORDER BY n DESC, source) AS rk
      |      FROM c)
      |SELECT r.lang, r.source AS modal_source, CAST(r.n AS BIGINT) AS n,
      |       r.n * 1000000 // t.tot AS share_ppm
      |FROM r JOIN t ON t.lang = r.lang
      |WHERE r.rk = 1 ORDER BY r.lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = t(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("lang").as("tlang"))
      .agg(sum(col("n")).cast("long").as("tot"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("source"))
    c.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(broadcast(tot), col("lang") === col("tlang"))
      .select(col("lang"), col("source").as("modal_source"),
        col("n").cast("long").as("n"),
        expr("n * 1000000 DIV tot").as("share_ppm"))
      .orderBy("lang")
  }

  /** TWO-SAMPLE KOLMOGOROV-SMIRNOV DRIFT GATE — the CDF-based companion to
    * q_drift_chisq's bucket-mass chi-square: the same midpoint epoch split
    * of the event stream, but the statistic is the max CDF gap, which is
    * robust to WHERE bucket boundaries fall (a shift that moves mass within
    * one coarse bucket is invisible to chi-square but moves the CDF).
    * Values quantize to 256 fixed-width buckets (exact KS on the QUANTIZED
    * distribution — the standard distributed form; quantization error is
    * the operator's contract, as in q_drift_chisq), each epoch's CDF is an
    * exact parts-per-million integer, and `ks_ppm = max |cdf1 - cdf2|` is
    * all-integer and bit-identical across engines. The classical 5%
    * critical value c(α)·sqrt((n1+n2)/(n1·n2)) rides along as a double
    * (single sqrt/divide over exactly-representable integers — one IEEE
    * tree, same in both engines) and `drifted` is the gate verdict.
    * Degenerate guards: buckets are clamped on BOTH sides (GREATEST 0 /
    * LEAST 255 — negative values would otherwise hit the floor-vs-truncate
    * divergence between DuckDB `//` and Spark `DIV`), and the CDF divisors
    * are `GREATEST(n, 1)` so a type whose rows all fall in one epoch
    * yields an explicit ks_ppm (vs the other epoch's empty CDF); its
    * threshold divides by zero, so thresh_ppm and drifted read NULL in
    * both engines. The bucket ([[graft.streaming.Streams.ksBucket]]) and
    * the fold ([[graft.streaming.Streams.ksFold]]) are shared with the
    * streamed registers.
    *
    * Shape at 100 TB: two map-side-combined aggregations ((type, bucket,
    * epoch) counts, per-type totals broadcast back), then a per-type
    * running sum over ≤ 256 bucket rows — a KEYED window with a hard
    * per-key row bound. No global sort, no per-event window. */
  val ksDrift: Q = Q(
    "q_ks_drift",
    """WITH b AS (SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
      |                  CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi FROM events),
      |v AS (SELECT event_type,
      |             LEAST(GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0) // 200,
      |                   255) AS bucket,
      |             CASE WHEN epoch_us(ts) * 2 < lo + hi THEN 0 ELSE 1 END AS epoch
      |      FROM events, b),
      |c AS (SELECT event_type, bucket,
      |             CAST(SUM(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |             CAST(SUM(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |      FROM v GROUP BY event_type, bucket),
      |n AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
      |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c GROUP BY event_type),
      |cum AS (SELECT c.event_type, c.bucket, n.n1, n.n2,
      |               SUM(c.c1) OVER (PARTITION BY c.event_type ORDER BY c.bucket) AS cum1,
      |               SUM(c.c2) OVER (PARTITION BY c.event_type ORDER BY c.bucket) AS cum2
      |        FROM c JOIN n ON n.event_type = c.event_type),
      |d AS (SELECT event_type, n1, n2,
      |             ABS(cum1 * 1000000 // GREATEST(n1, 1)
      |                 - cum2 * 1000000 // GREATEST(n2, 1)) AS gap_ppm
      |      FROM cum)
      |SELECT event_type, MIN(n1) AS n1, MIN(n2) AS n2,
      |       CAST(MAX(gap_ppm) AS BIGINT) AS ks_ppm,
      |       1358000.0 * sqrt(CAST(MIN(n1) + MIN(n2) AS DOUBLE)
      |                        / (CAST(MIN(n1) AS DOUBLE) * CAST(MIN(n2) AS DOUBLE)))
      |         AS thresh_ppm,
      |       CAST(MAX(gap_ppm) AS DOUBLE) >
      |       1358000.0 * sqrt(CAST(MIN(n1) + MIN(n2) AS DOUBLE)
      |                        / (CAST(MIN(n1) AS DOUBLE) * CAST(MIN(n2) AS DOUBLE)))
      |         AS drifted
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val v = ev.crossJoin(broadcast(b)) // 1-row epoch cut, the q_drift_chisq shape
      .select(col("event_type"), graft.streaming.Streams.ksBucket.as("bucket"),
        when(unix_micros(col("ts")) * 2 < col("lo") + col("hi"), 0L)
          .otherwise(1L).as("epoch"))
    graft.streaming.Streams.ksFold(v.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("epoch") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("epoch") === 1, 1L).otherwise(0L)).as("c2")))
  }

  /** GINI CONCENTRATION of per-user spend within each event type — the
    * inequality readout behind "is this cohort's volume carried by a few
    * whales?", and the corpus-balance diagnostic q_source_hhi gives for
    * sources applied to the USER dimension. All-integer: spends are exact
    * cents, users rank per type by (spend, user_id), and the closed form
    * G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) lands as a parts-per-million
    * integer. The ×10⁶ scaling multiplies the NUMERATOR first in wide
    * integers (DECIMAL(38,0) in Spark, HUGEINT in DuckDB — identical
    * two's-complement value trees), then one integral divide by
    * `GREATEST(n·Σx, 1)`: exact ppm at every cohort size, where the
    * earlier denominator-first form (`den DIV 10⁶`) degraded to the raw
    * numerator whenever n·Σx ≤ 10⁶. Per-row cents clamp at GREATEST(·,0),
    * so the closed form's non-negativity (Chebyshev's sum inequality on
    * ascending ranks) holds by construction and floor (`//`) agrees with
    * truncate (`DIV`). Headroom: the wide product ≤ n·Σx·10⁶ < 10³⁸ for
    * any BIGINT-bounded sums — no overflow at 100 TB.
    *
    * Shape at 100 TB: one keyed aggregation to (type, user) totals, a
    * per-type rank window (rows bounded by the user domain of that type),
    * one keyed rollup. No global sort. */
  val giniByType: Q = Q(
    "q_gini_by_type",
    """WITH u AS (SELECT event_type, user_id,
      |                  CAST(SUM(GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0))
      |                       AS BIGINT) AS spend
      |           FROM events GROUP BY event_type, user_id),
      |r AS (SELECT event_type, spend,
      |             ROW_NUMBER() OVER (PARTITION BY event_type
      |                                ORDER BY spend, user_id) AS rk
      |      FROM u),
      |g AS (SELECT event_type, COUNT(*) AS n_users,
      |             CAST(SUM(spend) AS BIGINT) AS total_cents,
      |             CAST(SUM(rk * spend) AS BIGINT) AS t
      |      FROM r GROUP BY event_type)
      |SELECT event_type, n_users, total_cents,
      |       CAST((2 * CAST(t AS HUGEINT)
      |             - (n_users + 1) * CAST(total_cents AS HUGEINT)) * 1000000
      |            // GREATEST(CAST(n_users AS HUGEINT)
      |                        * CAST(total_cents AS HUGEINT), 1) AS BIGINT)
      |         AS gini_ppm
      |FROM g ORDER BY event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val u = t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(greatest(round(col("value") * 100).cast("long"), lit(0L)))
        .as("spend"))
    val w = Window.partitionBy("event_type").orderBy(col("spend"), col("user_id"))
    u.withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("spend")).as("total_cents"),
        sum(col("rk") * col("spend")).as("t"))
      .select(col("event_type"), col("n_users"), col("total_cents"),
        expr("(2 * CAST(t AS DECIMAL(38,0)) " +
          "- (n_users + 1) * CAST(total_cents AS DECIMAL(38,0))) * 1000000 " +
          "DIV GREATEST(CAST(n_users AS DECIMAL(38,0)) " +
          "* CAST(total_cents AS DECIMAL(38,0)), CAST(1 AS DECIMAL(38,0)))")
          .cast("long").as("gini_ppm"))
      .orderBy("event_type")
  }

  /** DETERMINISTIC POISSON BOOTSTRAP — per-type mean event value with a
    * bootstrap confidence band, the error bars every metrics readout at
    * scale needs (Efron resampling in its one-pass streaming form: each of
    * B = 16 resamples weights every row by an independent Poisson(1)
    * multiplier, so no resample is ever materialized — the form that runs
    * on 100 TB because it is just B weighted sums inside one scan).
    * The Poisson draws are HASH-derived (md5-32 of "bs:<b>:<event_id>"
    * against the exact floor(CDF·2^32) thresholds 1580030168, 3160060337,
    * 3950075421, 4213413783, 4279248373, 4292415291 — the literal-table
    * trick, no RNG), so both engines draw the identical weights and the
    * whole bootstrap hash-matches. Resample means are ONE IEEE division of
    * exact integer cents sums (the q_kmv pattern, with the GREATEST(n,1)
    * zero guard from the q_ks_drift advice); the band is the 2nd/15th of
    * the 16 resample means (≈ a 10-90 band), picked by a rank window over
    * a 16-row-per-type frame.
    *
    * Shape at 100 TB: ONE fact scan fans each row out 16-fold (a constant,
    * like q_window_sliding's 4x) into a map-side-combined (type, b)
    * aggregation — 16 slim rows per type into the shuffle; everything
    * after is bounded by types x 16. */
  val bootstrapCi: Q = {
    val B = 16
    Q(
      "q_bootstrap_ci",
      s"""WITH d AS (
        |  SELECT event_type, event_id,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |bs AS (SELECT UNNEST(generate_series(0, ${B - 1})) AS b),
        |w0 AS (
        |  SELECT d.event_type, d.cents, bs.b,
        |         CAST(('0x' || substr(md5(
        |           'bs:' || CAST(bs.b AS VARCHAR) || ':'
        |                 || CAST(d.event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM d CROSS JOIN bs),
        |w AS (
        |  SELECT event_type, cents, b,
        |         CASE
        |           WHEN h <= 1580030168 THEN 0 WHEN h <= 3160060337 THEN 1
        |           WHEN h <= 3950075421 THEN 2 WHEN h <= 4213413783 THEN 3
        |           WHEN h <= 4279248373 THEN 4 WHEN h <= 4292415291 THEN 5
        |           ELSE 6 END AS wt
        |  FROM w0),
        |m AS (
        |  SELECT event_type, b,
        |         CAST(SUM(wt * cents) AS DOUBLE)
        |           / CAST(GREATEST(SUM(wt), 1) AS DOUBLE) AS bmean
        |  FROM w GROUP BY event_type, b),
        |r AS (
        |  SELECT event_type, b, bmean,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY bmean, b) AS rk
        |  FROM m),
        |base AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |           AS mean_cents
        |  FROM d GROUP BY event_type)
        |SELECT base.event_type, base.n, base.mean_cents,
        |       MAX(CASE WHEN rk = 2 THEN bmean END) AS ci_lo_cents,
        |       MAX(CASE WHEN rk = ${B - 1} THEN bmean END) AS ci_hi_cents
        |FROM base JOIN r ON r.event_type = base.event_type
        |GROUP BY base.event_type, base.n, base.mean_cents
        |ORDER BY base.event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val bs = s.range(0, B).select(col("id").as("b"))
      // spread before the 16x fan-out: the events scan is 1-2 partitions
      // and the 16 md5 draws per row otherwise run on that many cores
      // (measured: a 1.5s single-task stage — guide §2.5)
      val w = graft.engine.Tables.spread(d, col("event_id"))
        .crossJoin(broadcast(bs)) // constant 16x fan-out
        .withColumn("h", graft.functions.Text.md5Hash32(
          concat(lit("bs:"), col("b").cast("string"), lit(":"),
            col("event_id").cast("string"))))
        .withColumn("wt",
          when(col("h") <= 1580030168L, 0L)
            .when(col("h") <= 3160060337L, 1L)
            .when(col("h") <= 3950075421L, 2L)
            .when(col("h") <= 4213413783L, 3L)
            .when(col("h") <= 4279248373L, 4L)
            .when(col("h") <= 4292415291L, 5L)
            .otherwise(6L))
      val m = w.groupBy(col("event_type"), col("b"))
        .agg((sum(col("wt") * col("cents")).cast("double") /
          greatest(sum(col("wt")), lit(1L)).cast("double")).as("bmean"))
      val rw = Window.partitionBy("event_type").orderBy(col("bmean"), col("b"))
      val r = m.withColumn("rk", row_number().over(rw))
      val base = d.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(col("cents")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_cents"))
      base.join(r, "event_type")
        .groupBy(col("event_type"), col("n"), col("mean_cents"))
        .agg(max(when(col("rk") === 2, col("bmean"))).as("ci_lo_cents"),
          max(when(col("rk") === B - 1, col("bmean"))).as("ci_hi_cents"))
        .orderBy("event_type")
    }
  }

  /** MERGEABLE RANK-SKETCH QUANTILES (the KLL/MRL shape, Manku-
    * Rajagopalan-Lindsay '98 / Karnin-Lang-Liberty '16) — per-type
    * quantiles of the UNBOUNDED `value` domain from a bounded, mergeable
    * summary: q_quantile_sketch's fixed 256-bucket histogram needs a known
    * value range; a RANK-based sketch does not. Each (type, shard) —
    * shard = md5-mod-8 of event_id, both engines drawing the identical
    * deterministic shard — reduces its sorted run to k = 64 evenly-spaced
    * rank samples (a row is kept iff it crosses a k-quantile boundary:
    * rn·k DIV n > (rn−1)·k DIV n — the DETERMINISTIC compaction schedule,
    * no coin, so the sketch hash-matches across engines) with EXACT
    * integer weights (gap to the previous kept row; weights sum to n_s by
    * construction). The per-shard summaries then MERGE by weighted rank —
    * the mergeability that makes the sketch a map-side/combiner object —
    * and the estimate at quantile φ is the first sample whose cumulative
    * weight reaches φ·n. The exact quantile and true rank of each estimate
    * ride along (the sketch grades itself in place, the q_hll convention):
    * rank_err_ppm = |true_rank − exact_rank|·10⁶ DIV n, bounded by
    * ~shards·n/k in ranks.
    *
    * Shape at 100 TB: the sketch path is per-(type, shard) windows — fully
    * parallel, spill-friendly sorted runs, exactly how a combiner builds
    * per-partition summaries — plus a merge over the BOUNDED union
    * (shards × k rows per type, broadcast-scale). The exact side (global
    * per-type rank window) is the grading yardstick only; a production
    * release emits the estimate columns and skips the global sort. */
  val kllQuantiles: Q = {
    val Shards = 8
    val K = 64
    val Phis = Seq(250000L, 500000L, 750000L, 900000L, 990000L)
    val phiList = Phis.mkString(", ")
    Q(
      "q_kll_quantiles",
      s"""WITH base AS (
        |  SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
        |sh AS (
        |  SELECT event_type, event_id, value,
        |         CAST(('0x' || substr(md5('kll:' || CAST(event_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) % $Shards AS shard
        |  FROM base),
        |rn0 AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, shard
        |                               ORDER BY value, event_id) AS rn,
        |            COUNT(*) OVER (PARTITION BY event_type, shard) AS ns
        |  FROM sh),
        |sel AS (
        |  SELECT event_type, shard, event_id, value, rn,
        |         rn - COALESCE(LAG(rn) OVER (PARTITION BY event_type, shard
        |                                     ORDER BY rn), 0) AS weight
        |  FROM rn0 WHERE rn * $K // ns > (rn - 1) * $K // ns),
        |merged AS (
        |  SELECT event_type, event_id, value,
        |         SUM(weight) OVER (PARTITION BY event_type ORDER BY value, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS cum,
        |         SUM(weight) OVER (PARTITION BY event_type) AS tot
        |  FROM sel),
        |phis AS (SELECT unnest([$phiList]) AS phi_ppm),
        |est AS (
        |  SELECT event_type, phi_ppm, event_id AS est_event, value AS est_value
        |  FROM (
        |    SELECT m.event_type, p.phi_ppm, m.event_id, m.value,
        |           ROW_NUMBER() OVER (PARTITION BY m.event_type, p.phi_ppm
        |                              ORDER BY m.value, m.event_id) AS pick
        |    FROM merged m CROSS JOIN phis p
        |    WHERE m.cum * 1000000 >= p.phi_ppm * m.tot)
        |  WHERE pick = 1),
        |gr AS (
        |  SELECT event_type, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY value, event_id) AS rg,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM base),
        |ex AS (
        |  SELECT g.event_type, p.phi_ppm, g.value AS exact_value,
        |         g.rg AS exact_rank, g.n
        |  FROM gr g JOIN phis p
        |    ON g.rg = GREATEST((p.phi_ppm * g.n + 999999) // 1000000, 1))
        |SELECT e.event_type, CAST(e.phi_ppm AS BIGINT) AS phi_ppm,
        |       e.est_value, x.exact_value,
        |       CAST(t.rg AS BIGINT) AS est_true_rank,
        |       CAST(x.exact_rank AS BIGINT) AS exact_rank,
        |       ABS(t.rg - x.exact_rank) * 1000000 // x.n AS rank_err_ppm
        |FROM est e
        |JOIN ex x ON x.event_type = e.event_type AND x.phi_ppm = e.phi_ppm
        |JOIN gr t ON t.event_type = e.event_type AND t.event_id = e.est_event
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"))
      val sh = base.withColumn("shard",
        expr("CAST(conv(substring(md5(concat('kll:', CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
          % Shards)
      val wS = Window.partitionBy("event_type", "shard")
      val rn0 = sh
        .withColumn("rn", row_number().over(wS.orderBy("value", "event_id")))
        .withColumn("ns", count(lit(1)).over(wS))
      val sel = rn0
        .filter(expr(s"rn * $K DIV ns > (rn - 1) * $K DIV ns"))
        .withColumn("weight",
          col("rn") - coalesce(lag(col("rn"), 1).over(wS.orderBy("rn")), lit(0L)))
        .select("event_type", "shard", "event_id", "value", "rn", "weight")
      val wT = Window.partitionBy("event_type")
      val merged = sel
        .withColumn("cum", sum(col("weight"))
          .over(wT.orderBy("value", "event_id").rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tot", sum(col("weight")).over(wT))
        .select("event_type", "event_id", "value", "cum", "tot")
      val phis = s.createDataFrame(Phis.map(Tuple1(_))).toDF("phi_ppm")
      val wPick = Window.partitionBy("event_type", "phi_ppm")
        .orderBy("value", "event_id")
      val est = merged.crossJoin(broadcast(phis))
        .filter(col("cum") * 1000000L >= col("phi_ppm") * col("tot"))
        .withColumn("pick", row_number().over(wPick))
        .filter(col("pick") === 1)
        .select(col("event_type"), col("phi_ppm"),
          col("event_id").as("est_event"), col("value").as("est_value"))
      val gr = base
        .withColumn("rg", row_number().over(wT.orderBy("value", "event_id")))
        .withColumn("n", count(lit(1)).over(wT))
      val ex = gr.join(broadcast(phis),
          col("rg") === expr("GREATEST((phi_ppm * n + 999999) DIV 1000000, 1)"))
        .select(col("event_type"), col("phi_ppm"), col("value").as("exact_value"),
          col("rg").as("exact_rank"), col("n"))
      est
        .join(ex, Seq("event_type", "phi_ppm"))
        .join(gr.select(col("event_type"), col("event_id").as("est_event"),
          col("rg")), Seq("event_type", "est_event"))
        .select(col("event_type"), col("phi_ppm").cast("long").as("phi_ppm"),
          col("est_value"), col("exact_value"),
          col("rg").cast("long").as("est_true_rank"),
          col("exact_rank").cast("long").as("exact_rank"),
          expr("ABS(rg - exact_rank) * 1000000 DIV n").as("rank_err_ppm"))
    }
  }

  val all: Seq[Q] =
    Seq(tableProfile, zorderLayout, anomalyZscore, driftChisq, winsorize,
      sourceHhi, skyline, keySkewReport, groupQuantiles, madRobust,
      histEquiwidth, modePerGroup, ksDrift, giniByType, bootstrapCi,
      kllQuantiles)
}
