package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables.t
import graft.functions.{Sketch, Text}

/** Lakehouse table-maintenance primitives over the `events` change stream —
  * the operators a 100-TB governed table layer runs beside the CDC merge
  * (q_cdc_merge): SCD Type 2 dimension versioning, bitmap-index audience
  * intersection, and the sketch COMPOSITION a join planner actually executes
  * (cardinality estimate -> filter sizing -> pruning filter). The reference
  * has no table-maintenance surface (its tables are immutable pandas loads,
  * main.py:225-233); this is engine-own surface per SURVEY §7.5.
  *
  * Determinism: versioning orders by the total key (ts, event_id); bitmap
  * words and Bloom bits are pure integer arithmetic; the one double in the
  * file (the HLL estimate feeding the filter-size ladder) is the
  * engine-deterministic exact-dyadic estimate q_hll_distinct established.
  */
object LakehouseQueries {

  /** The CDC change stream: signup/purchase = upsert, error = delete
    * tombstone (same op mapping as q_cdc_merge, EventQueries.scala). */
  private def changeStream(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("event_type") === "error", "delete")
          .otherwise("upsert").as("op"))

  private val opsCte =
    """ops AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      |  FROM events WHERE event_type IN ('signup', 'purchase', 'error'))""".stripMargin

  /** SCD TYPE 2 DIMENSION BUILD — every change becomes a VERSIONED row with
    * a half-open validity interval [valid_from, valid_to) and a current
    * flag: the slowly-changing-dimension layout every warehouse dimension
    * table is maintained in, and the one a point-in-time (as-of) join reads
    * history from. Where q_cdc_merge keeps only each key's LAST state, this
    * keeps ALL states with their lifetimes — the two halves of the
    * upsert-table story.
    *
    * Determinism: versions are numbered by the total per-key order
    * (ts, event_id) — event_id is unique, so ROW_NUMBER and LEAD are
    * unambiguous in both engines.
    *
    * Shape at 100 TB: ONE keyed shuffle (partition by user key), windows
    * bounded by changes-per-key — a dimension key has few versions by
    * nature, so no partition-skew risk and no global sort; this is the
    * canonical per-entity-bounded window the engine's window queries use
    * (vs the forbidden unpartitioned window). */
  val scd2Build: Q = Q(
    "q_scd2_build",
    s"""WITH $opsCte
      |SELECT user_id,
      |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      |       op, value,
      |       ts AS valid_from,
      |       LEAD(ts) OVER w AS valid_to,
      |       LEAD(ts) OVER w IS NULL AS is_current
      |FROM ops
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changeStream(s, dir)
      .select(col("user_id"),
        row_number().over(w).cast("long").as("version"),
        col("op"), col("value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        lead(col("ts"), 1).over(w).isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** BITMAP-INDEX AUDIENCE OVERLAP — the segment-intersection operator an
    * analytics store answers with roaring bitmaps: each event_type's
    * distinct-user audience is packed into 64-bit words keyed by
    * `user_id DIV 64`, segment pairs join on the WORD index, and the
    * intersection size is SUM(bit_count(a & b)). The bitmap answer is
    * EXACT (not a sketch), so the in-row `matches` column grades it against
    * the naive distinct-join count — the q_cdc_merge self-grading pattern.
    *
    * Determinism: pure integer bit arithmetic; bit 63 is spelled as the
    * Long.MinValue literal in the mirror because DuckDB refuses to shift
    * into the sign bit (the q_bloom_prune convention); bit_count counts
    * two's-complement set bits identically in both engines (pinned: -1 has
    * 64 in both).
    *
    * Shape at 100 TB: the pack is one map-side-combined BIT_OR aggregation
    * that shrinks each audience 64x BEFORE any pairwise work; the pair join
    * is a keyed equi-join on word_idx — co-partitioned, never a user-level
    * pairwise join, and the word table for even a billion-user audience is
    * ~16M rows. The naive exact join exists only as the in-query yardstick
    * (the cost the bitmap path avoids). */
  val bitmapOverlap: Q = Q(
    "q_bitmap_overlap",
    """WITH seg AS (SELECT DISTINCT event_type AS seg, user_id FROM events),
      |words AS (
      |  SELECT seg, user_id // 64 AS word_idx,
      |         BIT_OR(CASE WHEN user_id % 64 = 63
      |                     THEN CAST(-9223372036854775808 AS BIGINT)
      |                     ELSE 1::BIGINT << CAST(user_id % 64 AS INTEGER) END) AS w
      |  FROM seg GROUP BY seg, user_id // 64),
      |segs AS (SELECT DISTINCT seg FROM seg),
      |pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b
      |          FROM segs a JOIN segs b ON a.seg < b.seg),
      |ov AS (
      |  SELECT a.seg AS seg_a, b.seg AS seg_b,
      |         CAST(SUM(bit_count(a.w & b.w)) AS BIGINT) AS bitmap_overlap
      |  FROM words a JOIN words b ON b.word_idx = a.word_idx AND a.seg < b.seg
      |  GROUP BY a.seg, b.seg),
      |ex AS (
      |  SELECT a.seg AS seg_a, b.seg AS seg_b, CAST(COUNT(*) AS BIGINT) AS exact_overlap
      |  FROM seg a JOIN seg b ON b.user_id = a.user_id AND a.seg < b.seg
      |  GROUP BY a.seg, b.seg)
      |SELECT p.seg_a, p.seg_b,
      |       COALESCE(o.bitmap_overlap, 0) AS bitmap_overlap,
      |       COALESCE(e.exact_overlap, 0) AS exact_overlap,
      |       COALESCE(o.bitmap_overlap, 0) = COALESCE(e.exact_overlap, 0) AS matches
      |FROM pairs p
      |LEFT JOIN ov o ON o.seg_a = p.seg_a AND o.seg_b = p.seg_b
      |LEFT JOIN ex e ON e.seg_a = p.seg_a AND e.seg_b = p.seg_b
      |ORDER BY p.seg_a, p.seg_b""".stripMargin) { (s, dir) =>
    val seg = t(s, dir, "events")
      .select(col("event_type").as("seg"), col("user_id")).distinct()
    val words = seg
      .groupBy(col("seg"), expr("user_id DIV 64").as("word_idx"))
      .agg(bit_or(Sketch.bloomMask(col("user_id"))).as("w"))
    val ov = words.as("a")
      .join(words.as("b"),
        col("b.word_idx") === col("a.word_idx") && col("a.seg") < col("b.seg"))
      .groupBy(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"))
      .agg(sum(expr("bit_count(a.w & b.w)")).as("bitmap_overlap"))
    val ex = seg.as("a")
      .join(seg.as("b"),
        col("b.user_id") === col("a.user_id") && col("a.seg") < col("b.seg"))
      .groupBy(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    val segs = seg.select("seg").distinct()
    val pairs = segs.as("a").join(segs.as("b"), col("a.seg") < col("b.seg"))
      .select(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"))
    pairs.join(ov, Seq("seg_a", "seg_b"), "left")
      .join(ex, Seq("seg_a", "seg_b"), "left")
      .select(col("seg_a"), col("seg_b"),
        coalesce(col("bitmap_overlap"), lit(0L)).as("bitmap_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"),
        (coalesce(col("bitmap_overlap"), lit(0L)) ===
          coalesce(col("exact_overlap"), lit(0L))).as("matches"))
      .orderBy("seg_a", "seg_b")
  }

  /** ADAPTIVE BLOOM SIZING — the SKETCH COMPOSITION a 100-TB join planner
    * actually runs: HLL-estimate the build side's key cardinality, size the
    * Bloom filter from the estimate (smallest power-of-two >= 16 bits/key,
    * clamped to [2^10, 2^20]), build the filter at that size, probe every
    * key, and grade the result — observed false-positive rate in exact ppm,
    * and the no-false-negative guarantee pinned per-run. This closes the
    * loop between the two already-oracle-checked sketch surfaces
    * (q_hll_distinct's estimator, q_bloom_prune's filter): the ESTIMATE
    * drives the GEOMETRY, which is how a planner keeps a filter's FPP flat
    * as the build side grows 1000x instead of shipping one fixed bank.
    *
    * Determinism: the HLL estimate is the exact-dyadic deterministic tower
    * from q_hll_distinct (Sketch.scala); the size ladder compares that
    * double against exact power-of-two thresholds (est <= 64 -> 1024 bits,
    * doubling up to the 2^20 cap), so both engines choose the SAME m; all
    * filter arithmetic below the ladder is integer (md5-32 bits mod m,
    * BIT_OR words, 3-way mask check), with bit 63 as the Long.MinValue
    * literal per the q_bloom_prune convention.
    *
    * Shape at 100 TB: the estimate is the 256-register HLL fold (shuffle
    * carries <= 256 rows per map task); the 1-row geometry config
    * broadcasts onto build and probe sides; the filter is m/64 words
    * REGARDLESS of build rows, broadcast to the probe; the probe folds each
    * key's 3 bit-checks with one narrow aggregation. Nothing in the
    * composition shuffles build-against-probe. */
  val adaptiveBloom: Q = {
    // est <= 2^(j-4)  ->  m = 2^j  (16 bits per estimated key), j in 10..20
    val ladderSql = (10 to 20)
      .map(j => s"WHEN est <= ${1L << (j - 4)} THEN ${1L << j}")
      .mkString("CASE ", " ", s" ELSE ${1L << 20} END")
    def bitSql(i: Int, from: String) =
      s"SELECT user_id, m_bits, CAST(('0x' || substr(md5('b$i:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % m_bits AS bit FROM $from"
    def maskSql(bitExpr: String) =
      s"""CASE WHEN $bitExpr % 64 = 63
         |     THEN CAST(-9223372036854775808 AS BIGINT)
         |     ELSE 1::BIGINT << CAST($bitExpr % 64 AS INTEGER) END""".stripMargin
    Q(
      "q_adaptive_bloom",
      s"""WITH members AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT DISTINCT user_id FROM events),
        |h AS (
        |  SELECT CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
        |  FROM members),
        |ranked AS (
        |  SELECT bucket, ${Sketch.HllRankSql} AS r
        |  FROM (SELECT hv % 256 AS bucket, hv // 256 AS w FROM h)),
        |regs AS (SELECT bucket, MAX(r) AS mr FROM ranked GROUP BY bucket),
        |folded AS (
        |  SELECT COUNT(*) AS nb, SUM((${Sketch.HllInvSql})[mr]) AS s FROM regs),
        |raw AS (
        |  SELECT 256 - nb AS zb,
        |         CAST(${Sketch.HllAlphaM2} AS DOUBLE) / (s + (256 - nb)) AS est0
        |  FROM folded),
        |cfg0 AS (
        |  SELECT CASE WHEN zb > 0 AND est0 <= CAST(640.0 AS DOUBLE)
        |              THEN (${Sketch.HllLinearSql})[CAST(zb AS INTEGER)]
        |              ELSE est0 END AS est
        |  FROM raw),
        |cfg AS (SELECT est, $ladderSql AS m_bits FROM cfg0),
        |mwork AS (SELECT mem.user_id, c.m_bits FROM members mem, cfg c),
        |mbits AS (
        |  ${(0 until 3).map(i => bitSql(i, "mwork")).mkString("\n  UNION ALL\n  ")}),
        |words AS (
        |  SELECT bit // 64 AS word_idx, BIT_OR(${maskSql("bit").replace("\n", " ")}) AS w
        |  FROM mbits GROUP BY bit // 64),
        |pwork AS (SELECT u.user_id, c.m_bits FROM u, cfg c),
        |pbits AS (
        |  ${(0 until 3).map(i => bitSql(i, "pwork")).mkString("\n  UNION ALL\n  ")}),
        |hits AS (
        |  SELECT p.user_id,
        |         SUM(CASE WHEN (w.w & (${maskSql("p.bit").replace("\n", " ")})) != 0
        |                  THEN 1 ELSE 0 END) AS n_hit
        |  FROM pbits p LEFT JOIN words w ON w.word_idx = p.bit // 64
        |  GROUP BY p.user_id),
        |graded AS (
        |  SELECT h.user_id, h.n_hit = 3 AS maybe, m.user_id IS NOT NULL AS actual
        |  FROM hits h LEFT JOIN members m ON m.user_id = h.user_id),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |         CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
        |         CAST(SUM(CASE WHEN maybe AND actual THEN 1 ELSE 0 END) AS BIGINT) AS hit_members,
        |         CAST(SUM(CASE WHEN maybe AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
        |  FROM graded)
        |SELECT c.est AS hll_estimate, CAST(c.m_bits AS BIGINT) AS filter_bits,
        |       a.n_users, a.n_members, a.false_positives,
        |       a.n_users - a.n_members AS n_nonmembers,
        |       CASE WHEN a.n_users > a.n_members
        |            THEN a.false_positives * 1000000 // (a.n_users - a.n_members)
        |            ELSE 0 END AS fpp_ppm,
        |       a.hit_members = a.n_members AS no_false_negatives
        |FROM agg a, cfg c""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val members = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val users = ev.select(col("user_id")).distinct()
      // HLL tower on the build side (members), per Sketch.scala
      val rho = members.select(Sketch.hllHash(col("user_id")).as("hv"))
        .select(Sketch.hllBucket(col("hv")).as("bucket"),
          Sketch.hllRank(col("hv")).as("r"))
      val regs = rho.groupBy("bucket").agg(max(col("r")).as("mr"))
      val folded = regs.agg(count(lit(1)).as("nb"),
        sum(Sketch.hllInv(col("mr"))).as("s"))
      val est0 = Sketch.hllEstimate(col("s"), col("nb"))
      val zb = lit(Sketch.HllBuckets) - col("nb")
      val est = Sketch.hllCorrected(est0, zb)
      // 16-bits-per-estimated-key power-of-two ladder, clamped to 2^10..2^20
      val mBits = (11 to 20)
        .foldLeft(when(est <= lit((1L << 6).toDouble), lit(1L << 10))) {
          (acc, j) => acc.when(est <= lit((1L << (j - 4)).toDouble), lit(1L << j))
        }
        .otherwise(lit(1L << 20))
      val cfg = folded.select(est.as("est"), mBits.as("m_bits"))
      def bits(df: DataFrame): DataFrame = df
        .select(col("user_id"),
          explode(array((0 until 3).map(i =>
            Text.md5Hash32(concat(lit(s"b$i:"), col("user_id").cast("string")))
              % col("m_bits")): _*)).as("bit"))
      val words = bits(members.crossJoin(broadcast(cfg)))
        .select(Sketch.bloomWordIdx(col("bit")).as("word_idx"),
          Sketch.bloomMask(col("bit")).as("m"))
        .groupBy("word_idx").agg(bit_or(col("m")).as("w"))
      val hits = bits(users.crossJoin(broadcast(cfg)))
        .select(col("user_id"), Sketch.bloomWordIdx(col("bit")).as("word_idx"),
          Sketch.bloomMask(col("bit")).as("m"))
        .join(broadcast(words), Seq("word_idx"), "left")
        .groupBy("user_id")
        .agg(sum(when(col("w").bitwiseAND(col("m")) =!= 0, 1).otherwise(0)).as("n_hit"))
      val graded = hits
        .join(members.withColumn("is_m", lit(true)), Seq("user_id"), "left")
        .select(col("user_id"), (col("n_hit") === 3).as("maybe"),
          col("is_m").isNotNull.as("actual"))
      val agg0 = graded.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("actual"), 1).otherwise(0)).cast("long").as("n_members"),
        sum(when(col("maybe") && col("actual"), 1).otherwise(0))
          .cast("long").as("hit_members"),
        sum(when(col("maybe") && !col("actual"), 1).otherwise(0))
          .cast("long").as("false_positives"))
      val nnm = col("n_users") - col("n_members")
      agg0.crossJoin(cfg) // 1-row x 1-row
        .select(col("est").as("hll_estimate"),
          col("m_bits").cast("long").as("filter_bits"),
          col("n_users"), col("n_members"), col("false_positives"),
          nnm.as("n_nonmembers"),
          when(col("n_users") > col("n_members"),
            expr("false_positives * 1000000 DIV (n_users - n_members)"))
            .otherwise(0L).as("fpp_ppm"),
          (col("hit_members") === col("n_members")).as("no_false_negatives"))
    }
  }

  /** POINT-IN-TIME (PIT) JOIN — each probe (view event) joined to the
    * dimension state that was CURRENT at its event time: the feature-store
    * primitive that prevents training-label leakage (a feature row must
    * reflect only what was known at the example's timestamp — joining the
    * latest state instead is the classic offline/online skew bug). Reads
    * the same change stream q_scd2_build versions; a probe at a delete
    * tombstone's effective time sees NULL state.
    *
    * Shape at 100 TB: the engine's as-of stream-merge form (the
    * q_attribution shape): union changes + probes on the user key, ONE
    * partition-local sort, one running last(ignoreNulls) of the packed
    * change struct — never the probes x versions range join, whose
    * interval predicate would force a per-key cross product. Ties are
    * total: (ts, kind 0-before-1, event_id), so a change at exactly the
    * probe's timestamp is visible to it in both engines.
    */
  val pitJoin: Q = Q(
    "q_pit_join",
    """WITH ops AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      |  FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
      |tl AS (
      |  SELECT user_id, ts, 0 AS kind, event_id,
      |         struct_pack(vts := ts, vop := op, vval := value) AS ch
      |  FROM ops
      |  UNION ALL
      |  SELECT user_id, ts, 1, event_id,
      |         CAST(NULL AS STRUCT(vts TIMESTAMP, vop VARCHAR, vval DOUBLE))
      |  FROM events WHERE event_type = 'view'),
      |st AS (
      |  SELECT *, LAST_VALUE(ch IGNORE NULLS) OVER
      |         (PARTITION BY user_id ORDER BY ts, kind, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM tl)
      |SELECT event_id AS probe_event_id, user_id, ts AS probe_ts,
      |       m.vts AS version_ts, m.vop AS state_op,
      |       CASE WHEN m.vop = 'delete' THEN NULL ELSE m.vval END AS state_value,
      |       m.vts IS NOT NULL AND m.vop != 'delete' AS has_state
      |FROM st WHERE kind = 1 ORDER BY probe_event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val chType = "struct<vts:timestamp,vop:string,vval:double>"
    val changes = changeStream(s, dir)
      .select(col("user_id"), col("ts"), lit(0).as("kind"), col("event_id"),
        struct(col("ts").as("vts"), col("op").as("vop"),
          col("value").as("vval")).as("ch"))
    val probes = t(s, dir, "events").filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"),
        lit(null).cast(chType).as("ch"))
    val w = Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes.unionAll(probes)
      .withColumn("m", last(col("ch"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id").as("probe_event_id"), col("user_id"),
        col("ts").as("probe_ts"),
        col("m.vts").as("version_ts"), col("m.vop").as("state_op"),
        when(col("m.vop") === "delete", lit(null).cast("double"))
          .otherwise(col("m.vval")).as("state_value"),
        (col("m.vts").isNotNull && col("m.vop") =!= "delete").as("has_state"))
      .orderBy("probe_event_id")
  }

  /** TIME-WEIGHTED AVERAGE (TWAP) over versioned state — each user's mean
    * dimension value weighted by how LONG each version was current: the
    * temporal aggregate behind position/balance averaging and
    * time-in-state metrics, and the natural consumer of the SCD2 layout
    * (q_scd2_build supplies the intervals; delete tombstones contribute a
    * gap, not a zero). The observation window closes at the log's global
    * max event time, broadcast as a 1-row aggregate.
    *
    * Determinism: durations are exact integer microseconds and the value
    * quantizes to exact integer cents (ROUND(v*100) — one IEEE multiply +
    * half-up, identical both engines), so the weighted numerator is a pure
    * INTEGER sum in DECIMAL(38,0)/HUGEINT. Casting an INTEGER decimal to
    * double is a single correctly-rounded conversion in both engines —
    * unlike a fractional DECIMAL(38,6) cast, where DuckDB's scaled-int128
    * representation double-rounds and the last ulp diverges (observed on
    * this very query's first draft). The final mean is then one IEEE
    * division of two deterministic doubles.
    *
    * Shape at 100 TB: one keyed window bounded by versions-per-key (the
    * SCD2 shape), one map-side-combined aggregation. Nothing global but
    * the broadcast 1-row window end. */
  val twap: Q = Q(
    "q_twap",
    """WITH ops AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      |  FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
      |w_end AS (SELECT MAX(ts) AS t_end FROM events),
      |iv AS (
      |  SELECT o.user_id, o.op, o.value,
      |         epoch_us(COALESCE(LEAD(o.ts) OVER w, e.t_end)) - epoch_us(o.ts) AS dur_us
      |  FROM ops o, w_end e
      |  WINDOW w AS (PARTITION BY o.user_id ORDER BY o.ts, o.event_id)),
      |live AS (
      |  SELECT user_id, dur_us,
      |         CAST(ROUND(value * 100) AS BIGINT) AS v_cents
      |  FROM iv WHERE op = 'upsert' AND dur_us > 0)
      |SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |       CAST(SUM(dur_us) AS BIGINT) AS live_us,
      |       CAST(SUM(CAST(v_cents AS HUGEINT) * dur_us) AS DOUBLE)
      |       / (CAST(SUM(dur_us) AS DOUBLE) * 100) AS twap
      |FROM live GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val ev = t(s, dir, "events")
    val wEnd = ev.agg(max(col("ts")).as("t_end"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val iv = changeStream(s, dir).crossJoin(broadcast(wEnd))
      .select(col("user_id"), col("op"), col("value"),
        (unix_micros(coalesce(lead(col("ts"), 1).over(w), col("t_end"))) -
          unix_micros(col("ts"))).as("dur_us"))
      .filter(col("op") === "upsert" && col("dur_us") > 0)
      .select(col("user_id"), col("dur_us"),
        round(col("value") * 100).cast("long").as("v_cents"))
    iv.groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_us")).cast("long").as("live_us"),
        (sum((col("v_cents").cast(DecimalType(38, 0)) * col("dur_us")))
          .cast(DoubleType) /
          (sum(col("dur_us")).cast(DoubleType) * 100)).as("twap"))
  }

  /** BUCKETED-LAYOUT JOIN — the declared-query face of
    * [[graft.engine.Sinks.writeBucketed]]: both join sides are persisted
    * hash-bucketed on the join key (one sorted file per bucket), read back
    * through the catalog, and joined — at which point the fact/fact join
    * stage plans with ZERO shuffle exchange on either side
    * (BucketJoinSpec pins zero-Exchange AND zero-Sort on the executed
    * plan; the 5-row segment rollup after it is the only exchange in the
    * query). At 100 TB this is the single biggest shuffle eliminator a
    * lakehouse layout offers: every repeated join on the bucketed key
    * becomes a local zip of bucket pairs.
    *
    * The oracle sees only the ANSWER (a plain join over the same parquet),
    * so correctness-gates that the bucketed write+read round-trip loses
    * and invents nothing. Tables land as external tables under the
    * per-JVM [[graft.engine.Scratch]] root (deleted on exit), suffixed by
    * the full input-dir token so scale probes never read a stale layout
    * and concurrent JVMs never race on one path.
    *
    * Determinism: integer count plus [[graft.engine.Det.dsum]] decimal
    * revenue; 5 segment rows ordered by name. */
  val bucketJoin: Q = Q(
    "q_bucket_join",
    """SELECT c_mktsegment,
      |       CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val suffix = graft.engine.Scratch.token(dir)
    val (oTbl, cTbl) = (s"orders_bkt_$suffix", s"customer_bkt_$suffix")
    graft.engine.Sinks.writeBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      oTbl, nBuckets = 8, keys = Seq("o_custkey"),
      path = Some(graft.engine.Scratch.dir(s"bkt/$oTbl")))
    graft.engine.Sinks.writeBucketed(
      t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
      cTbl, nBuckets = 8, keys = Seq("c_custkey"),
      path = Some(graft.engine.Scratch.dir(s"bkt/$cTbl")))
    s.table(oTbl)
      .join(s.table(cTbl), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        graft.engine.Det.dsum(col("o_totalprice")).as("revenue"))
  }

  /** Z-ORDER WRITE wired through the correctness gate (the q_bucket_join
    * pattern applied to [[graft.engine.Sinks.writeZOrdered]]): lineitem is
    * REWRITTEN as a 2-D Morton-clustered layout on (l_partkey, l_suppkey),
    * read back from the files, and a 2-D box predicate (q_zorder_layout's
    * box) rolls up per return flag — the oracle sees only the answer, so
    * the normalize→interleave→range-write→scan round trip is hash-checked
    * end to end. The file-skipping payoff of this layout is proven on scan
    * metrics by ZOrderWriteSpec; at 100 TB this is the OPTIMIZE ZORDER
    * maintenance job, run once to serve every future 2-D-selective scan.
    * The rewritten copy lands in [[graft.engine.Scratch]] — per-JVM unique
    * (no cross-run write/read race, no hashCode aliasing between data
    * dirs) and deleted on JVM exit. The box (partkey 100-300, suppkey 2-9)
    * is non-empty at EVERY testdata scale — the suppkey domain is only
    * 0..9 at sf0.001, where the earlier 30..90 band matched zero rows and
    * failed the rows>0 smoke. */
  val zorderWrite: Q = Q(
    "q_zorder_write",
    """SELECT l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 2 AND 9
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val path = graft.engine.Scratch.dir(
      s"zord/lineitem_${graft.engine.Scratch.token(dir)}")
    graft.engine.Sinks.writeZOrdered(
      t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_returnflag", "l_quantity"),
      path, nFiles = 16, colA = "l_partkey", colB = "l_suppkey")
    s.read.parquet(path)
      .filter(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(2, 9))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        graft.engine.Det.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view refresh
    * law every lakehouse relies on: a standing per-(event_type, day)
    * aggregate state built from history (ts < 2024-01-21 12:00) is MERGED
    * with the partial state of a late-arriving delta batch (the rest)
    * instead of recomputing from the full fact table. The merge is pure
    * monoid algebra — counts add, sums add, mins/maxes fold — so it is
    * exact for any split point. The split is deliberately MID-day: the
    * boundary day's (type, day) keys have rows in BOTH partials, so the
    * cross-side fold is genuinely exercised (a day-aligned split would
    * make the union a disjoint concatenation and prove nothing).
    *
    * The ORACLE is the single-pass recompute over the whole table: a hash
    * match therefore PROVES merge(state_old, state_delta) ≡ recompute —
    * the refresh-correctness law itself, not just a fixture.
    *
    * Shape at 100 TB: both sides reduce map-side to state-sized partials
    * (one row per touched (type, day)); the merge is a union of two
    * key-count-sized frames + one keyed re-aggregation. Refresh cost is
    * ∝ |delta| + |touched keys| — the history is never re-scanned (here
    * both sides read one table only because the gate is a single query;
    * a production refresh persists `old` as the standing MV). All
    * integer-cents. */
  val incrementalAgg: Q = Q(
    "q_incremental_agg",
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |       CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM events
      |GROUP BY event_type, CAST(ts AS DATE)
      |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .select(col("ts"), col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    def partial(side: DataFrame): DataFrame =
      side.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
    val split = lit("2024-01-21 12:00:00").cast("timestamp")
    val old = partial(ev.filter(col("ts") < split))   // the standing MV state
    val delta = partial(ev.filter(col("ts") >= split)) // the new batch's partial
    old.unionByName(delta) // monoid merge: state-sized union + keyed fold
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"), max(col("max_cents")).as("max_cents"))
      .orderBy("event_type", "day")
  }

  val all: Seq[Q] = Seq(scd2Build, bitmapOverlap, adaptiveBloom, pitJoin, twap,
    bucketJoin, zorderWrite, incrementalAgg)
}
