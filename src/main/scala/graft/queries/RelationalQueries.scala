package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Det.{davg, dsum, ts}
import graft.engine.Tables.t

/** Core relational operators (SURVEY.md §2.1-§2.4, §2.6, §2.7) re-expressed
  * over the driver testdata so DuckDB can oracle them.
  *
  * Scale notes (100-TB posture): every aggregate is a partial+final hash agg
  * (map-side combine); joins against bounded dims (region/nation) are
  * broadcast; top-k compiles to TakeOrderedAndProject (no full sort); filters
  * and projections reach the parquet scan (PushedFilters/ReadSchema).
  */
object RelationalQueries {

  /** Flagship (SURVEY §7.2 step 1): top-5 suppliers by revenue.
    * Reference analogue: K15 top-5 counties (main.py:363-385) = A2 + O2. */
  val topkRevenue: Q = Q(
    "q_topk_revenue",
    """SELECT l_suppkey,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY l_suppkey
      |ORDER BY revenue DESC, l_suppkey
      |LIMIT 5""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), asc("l_suppkey"))
      .limit(5)
  }

  /** TPC-H Q1-shaped pricing summary: multi-column grouped aggregation with
    * sums, averages and counts (reference A1-A5 family, main.py:457-462). */
  val pricingSummary: Q = Q(
    "q_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |       CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Filter + projection slice (F1/F2/P1, main.py:44-45, 249, 452-454):
    * predicate and column pruning both push to the parquet scan. */
  val filterProject: Q = Q(
    "q_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |       CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE l_returnflag = 'R' AND l_quantity > 30
      |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
      |ORDER BY l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 30 &&
        col("l_shipdate").between(
          ts("1996-01-01 00:00:00"),
          ts("1997-12-31 00:00:00")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate").cast("date").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)
  }

  /** Star join: fact → dims with explicit broadcast of the bounded dimension
    * tables (J1b, main.py:249-253). supplier joins shuffle-free at this size;
    * at 100 TB supplier shuffles while nation/region stay broadcast. */
  val joinBroadcastStar: Q = Q(
    "q_join_broadcast_star",
    """SELECT r.r_name, n.n_name,
      |       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem l
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n   ON s.s_nationkey = n.n_nationkey
      |JOIN region r   ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name, n.n_name
      |ORDER BY r.r_name, n.n_name""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Large fact-fact equi-join (orders ⋈ lineitem): shuffles both sides on
    * the join key; AQE handles skew at scale. */
  val joinShuffle: Q = Q(
    "q_join_shuffle",
    """SELECT o.o_orderpriority,
      |       COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
      |FROM orders o
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("total_price"))
  }

  /** Left-semi join (EXISTS): customers holding at least one urgent order. */
  val joinSemi: Q = Q(
    "q_join_semi",
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    t(s, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders before 1996. */
  val joinAnti: Q = Q(
    "q_join_anti",
    """SELECT c_nationkey, COUNT(*) AS n_customers
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    val early = t(s, dir, "orders")
      .filter(col("o_orderdate") < ts("1996-01-01 00:00:00"))
    t(s, dir, "customer")
      .join(early, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_nationkey")
  }

  /** Distinct domain extraction (A9, main.py:778, 930). */
  val distinctValues: Q = Q(
    "q_distinct",
    """SELECT DISTINCT event_type FROM events ORDER BY event_type""".stripMargin) {
    (s, dir) => t(s, dir, "events").select("event_type").distinct().orderBy("event_type")
  }

  /** Group-by-max dedup (A1, main.py:457-462): collapse events to one row per
    * (user, day) taking per-column max — the reference's province collapse. */
  val dedupGroupMax: Q = Q(
    "q_dedup_groupmax",
    """SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |       MAX(value) AS max_value, COUNT(*) AS n_events
      |FROM events
      |GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(max("value").as("max_value"), count(lit(1)).as("n_events"))
      .orderBy("user_id", "day")
  }

  /** Scalar-lookup join, subquery form (J1a, main.py:249-253): each order's
    * share of the exact global total. The scalar is computed once and
    * broadcast into the projection — no per-row recompute. */
  val scalarLookup: Q = Q(
    "q_scalar_lookup",
    """SELECT o_orderkey,
      |       o_totalprice / NULLIF((SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) FROM orders), 0.0) AS share
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val total = orders.agg(dsum(col("o_totalprice")).as("tot"))
    orders.crossJoin(broadcast(total))
      .select(col("o_orderkey"), (col("o_totalprice") / col("tot")).as("share"))
      .orderBy("o_orderkey")
      .limit(100)
  }

  /** Per-key lookup join, broadcast form (J1b): customer balance vs the exact
    * per-nation average (broadcast of a small aggregated dim). */
  val lookupBroadcastKey: Q = Q(
    "q_lookup_broadcast",
    """SELECT c.c_custkey,
      |       c.c_acctbal - n.nat_avg AS bal_minus_nation_avg
      |FROM customer c
      |JOIN (SELECT c_nationkey,
      |             CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c_acctbal) AS nat_avg
      |      FROM customer GROUP BY c_nationkey) n
      |  ON c.c_nationkey = n.c_nationkey
      |ORDER BY c.c_custkey
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "customer")
    val natAvg = cust.groupBy("c_nationkey").agg(davg(col("c_acctbal")).as("nat_avg"))
    cust.join(broadcast(natAvg), Seq("c_nationkey"))
      .select(col("c_custkey"), (col("c_acctbal") - col("nat_avg")).as("bal_minus_nation_avg"))
      .orderBy("c_custkey")
      .limit(100)
  }

  /** Set operations (SURVEY §2.7 extension): nations seen among customers vs
    * suppliers — intersect / except / union, tagged and unioned. */
  val setOps: Q = Q(
    "q_setops",
    """SELECT 'both' AS tag, k FROM
      |  (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) t1
      |UNION ALL
      |SELECT 'customer_only' AS tag, k FROM
      |  (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) t2
      |UNION ALL
      |SELECT 'all' AS tag, k FROM
      |  (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier) t3
      |ORDER BY tag, k""".stripMargin) { (s, dir) =>
    // Single-pass form: distinct keys per side, ONE full-outer join, tags
    // derived and exploded — instead of three separate wide shuffles
    // (intersect + except + union) over the same two inputs.
    val c = t(s, dir, "customer").select(col("c_nationkey").as("k")).distinct()
      .withColumn("in_c", lit(true))
    val sp = t(s, dir, "supplier").select(col("s_nationkey").as("k")).distinct()
      .withColumn("in_s", lit(true))
    val joined = c.join(sp, Seq("k"), "full_outer")
    val tags = array(
      when(col("in_c").isNotNull && col("in_s").isNotNull, "both"),
      when(col("in_c").isNotNull && col("in_s").isNull, "customer_only"),
      lit("all"))
    joined
      .select(explode(filter(tags, _.isNotNull)).as("tag"), col("k"))
      .orderBy("tag", "k")
  }

  /** ROLLUP grouping-sets aggregation (SURVEY §2.4 extension). Grouped-out
    * keys are NULL in both engines; COALESCE to 'ALL' for a stable sort. */
  val rollupAgg: Q = Q(
    "q_rollup",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"))
  }

  /** The grand-total grouping set `()` of `df` as a global aggregate: one
    * row of `aggs` with every key NULL, even on empty input, as SQL
    * yields it (the `()` set of Spark's Expand-based grouping sets yields
    * no row there). */
  private def grandTotal(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.agg(aggs.head, aggs.tail: _*)
      .select(keys.map(k => lit(null).cast(df.schema(k).dataType).as(k)) :+ col("*"): _*)

  /** Explicit GROUPING SETS — the general form rollup/cube specialize: a
    * caller-chosen set list ((flag, status), (status), ()) — the first two
    * in one Expand + hash aggregation, the grand total `()` as a global
    * aggregate ([[grandTotal]]). Per-column GROUPING flags disambiguate a
    * real NULL from a rolled-up level — emitted as separate 0/1 columns
    * rather than a combined grouping_id, whose bit order is an engine
    * convention the oracle should not depend on. */
  val groupingSetsAgg: Q = Q(
    "q_grouping_sets",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val sums = Seq(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      // grouping() is an aggregate-context function in Spark — it must be
      // computed HERE, inside the GroupingSets aggregate, not downstream
      .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status") +: sums: _*)
      .unionAll(grandTotal(li, Seq("l_returnflag", "l_linestatus"),
        lit(1L).as("g_flag") +: lit(1L).as("g_status") +: sums))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("g_flag"), col("g_status"), col("n_rows"), col("sum_qty"))
  }

  /** CUBE grouping-sets aggregation (SURVEY §2.4 extension): the three
    * keyed sets in one Expand + hash aggregation, the grand total as a
    * global aggregate ([[grandTotal]]). */
  val cubeAgg: Q = Q(
    "q_cube",
    """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
      |       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val (st, pr) = (col("o_orderstatus"), col("o_orderpriority"))
    val aggs = Seq(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    o.groupingSets(Seq(Seq(st, pr), Seq(st), Seq(pr)), st, pr)
      .agg(aggs.head, aggs.tail: _*)
      .unionAll(grandTotal(o, Seq("o_orderstatus", "o_orderpriority"), aggs))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n_orders"), col("total"))
      .orderBy("orderstatus", "orderpriority")
  }

  /** Exact + distinct counting. (`approx_count_distinct` is exercised in the
    * scalatest suite — its HLL estimate is engine-specific, so no oracle.) */
  val countDistinctAgg: Q = Q(
    "q_count_distinct",
    """SELECT event_type,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** FULL OUTER JOIN — the one join flavor the family still lacked
    * (inner/broadcast/shuffle/semi/anti are all declared elsewhere):
    * customers ⟗ their per-customer order rollup, summarized per
    * (match_status, segment). `both` rows carry the rollup, `left_only`
    * rows are customers who never ordered (their order columns NULL —
    * the report counts them), and a hypothetical `right_only` side would
    * surface orphan orders (the FK audit proves there are none, so its
    * absence here is itself evidence).
    *
    * Shape at 100 TB: the rollup is map-side combined to one row per
    * ordering customer; the full outer join shuffles both sides on the
    * key (no broadcast — BOTH null sides must survive, which a broadcast
    * join cannot produce for the streamed side); the summary is a
    * segment-count-sized aggregate. */
  val joinFull: Q = Q(
    "q_join_full",
    """WITH o AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY o_custkey),
      |j AS (
      |  SELECT c.c_mktsegment,
      |         CASE WHEN c.c_custkey IS NULL THEN 'right_only'
      |              WHEN o.o_custkey IS NULL THEN 'left_only'
      |              ELSE 'both' END AS match_status,
      |         o.n_orders, o.cents
      |  FROM customer c FULL OUTER JOIN o ON o.o_custkey = c.c_custkey)
      |SELECT match_status, c_mktsegment,
      |       CAST(COUNT(*) AS BIGINT) AS n_keys,
      |       CAST(COALESCE(SUM(n_orders), 0) AS BIGINT) AS n_orders,
      |       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents
      |FROM j GROUP BY match_status, c_mktsegment
      |ORDER BY match_status, c_mktsegment""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("cents"))
    val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    c.join(o, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(col("c_mktsegment"),
        when(col("c_custkey").isNull, "right_only")
          .when(col("o_custkey").isNull, "left_only")
          .otherwise("both").as("match_status"),
        col("n_orders"), col("cents"))
      .groupBy("match_status", "c_mktsegment")
      .agg(count(lit(1)).as("n_keys"),
        coalesce(sum(col("n_orders")), lit(0L)).cast("long").as("n_orders"),
        coalesce(sum(col("cents")), lit(0L)).cast("long").as("cents"))
      .orderBy("match_status", "c_mktsegment")
  }

  val all: Seq[Q] = Seq(
    topkRevenue, pricingSummary, filterProject, joinBroadcastStar, joinShuffle,
    joinSemi, joinAnti, distinctValues, dedupGroupMax, scalarLookup,
    lookupBroadcastKey, setOps, rollupAgg, groupingSetsAgg, cubeAgg,
    countDistinctAgg, joinFull)
}
