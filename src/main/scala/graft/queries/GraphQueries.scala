package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Pairs, Tables}
import graft.engine.Tables.t
import graft.queries.SubPlans.closureCtes

/** Graph analytics over the co-purchase graph (parts linked by appearing in
  * the same order) — the capability area a training-data platform needs for
  * link-structure work: duplicate-cluster topology, citation/reference
  * graphs, user-item affinity. The reference has no graph surface (its
  * relational operators stop at joins, main.py:303-417); this is engine-own
  * surface in the spirit of SURVEY §7.5's extensions.
  *
  * Graph construction (shared by all three queries):
  *   - baskets  = DISTINCT (l_orderkey, l_partkey) — the incidence list.
  *   - pairs    = self-equi-join of baskets on the order key with p1 < p2.
  *     Lines-per-order is bounded by the data model (TPC-H caps at 7), so
  *     the fan-out per order key is at most C(7,2) = 21 — a constant
  *     factor, never quadratic in table size. At 100 TB this is one
  *     shuffle on the order key followed by a map-side-combined pair count.
  *   - edges    = pairs with support >= 2 (repeat co-purchase). The support
  *     cut is the same df-cut idiom the near-dup queries use: it removes
  *     one-off noise AND bounds the graph's density before any
  *     super-linear step runs.
  *
  * Determinism: every derived metric is integer arithmetic (counts,
  * integer DIV, parts-per-million scaling) — order-independent in both
  * engines, so the oracle hash-matches without any Det decimal machinery.
  */
object GraphQueries {

  /** Raw (order, part) incidence — NOT deduplicated; [[pairCounts]]'s
    * per-order collect_set dedups for free, so pair-only consumers skip
    * the distinct's extra shuffle entirely. */
  private def rawBaskets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))

  /** Per-order DISTINCT sorted basket arrays (ok, ps), EAGERLY
    * checkpointed — the ONE shared frame the rule queries (basket_rules /
    * recommend_topk / mutual_best_match) derive everything from:
    * n_baskets is its row count (ok is unique per row, so
    * COUNT(DISTINCT ok) == COUNT(*)), per-item counts explode the arrays
    * (ps is the distinct part set, so the explode emits each (ok, pk)
    * once), and pairs expand in-row via [[pairsFromGrouped]]. Previously
    * each of nb / item / pair was its own subtree over the DISTINCT
    * incidence list, and the scan + distinct executed two to three times
    * per query (profiled: two identical 6.2MB spread writes + three
    * distinct-final stages side by side). One spread (the aggregation's
    * own exchange, explicit-width so AQE cannot byte-coalesce the
    * collect_set stage) -> one bounded collect_set pass -> a ~5MB
    * checkpoint every consumer reads. */
  private def basketsGrouped(s: SparkSession, dir: String): DataFrame =
    Tables.spread(rawBaskets(s, dir), col("ok"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("ps"))
      .localCheckpoint(eager = true)

  /** [[pairSupport]] over the checkpointed basket arrays. Respread on
    * xxhash64(ok) first: the grouped table is small but fans out
    * compute-dense work, and after a checkpoint its width is whatever AQE
    * coalesced the aggregation to (measured 6 of 32 tasks; keyed off ok
    * itself the planner would elide the spread as statically redundant). */
  private def pairsFromGrouped(g: DataFrame): DataFrame =
    pairSupport(Tables.spread(g, xxhash64(col("ok"))))

  /** The bounded in-row C(k,2) pair expansion over per-order sorted
    * basket arrays (ok, ps) + pair support count. */
  private def pairSupport(g: DataFrame): DataFrame =
    Pairs.upperTriangle(g, "ps", diagonal = false)
      .groupBy(col("x").as("p1"), col("y").as("p2")).agg(count(lit(1)).as("nij"))

  /** Co-purchase pair support counts, p1 < p2 (see object scaladoc).
    *
    * Enumeration is ONE groupBy(order) collecting the <= 7 distinct parts
    * into a sorted array, then the per-row C(k,2) expansion of
    * [[Pairs.upperTriangle]] — not the textbook basket self-join. Same
    * rows (the sorted array IS the distinct basket, so the expansion yields
    * exactly the p1 < p2 pairs once each), one fewer shuffle and no join
    * build side:
    * measured ~0.5s off EVERY graph query at sf0.1, and at 100 TB the
    * single shuffle carries one row per order instead of one per line. The
    * per-order bound (TPC-H caps lines at 7) is what makes the collected
    * array safe — this is the bounded-by-data-model collect the engine
    * allows, unlike a per-user event collect. */
  private def pairCounts(b: DataFrame): DataFrame =
    // spread BEFORE the groupBy: the explicit hash exchange on the same
    // key satisfies the aggregation's distribution, so no second shuffle
    // — and it moves the collect_set + C(k,2) expansion off the scan
    // stage (a single-row-group file scans single-threaded, and AQE
    // byte-coalescing shrank the post-shuffle expansion to 4 tasks:
    // ~1.9s of every graph query ran on <4 of 32 cores; guide
    // §2.4/§2.5). The whole agg + expansion stage is explicit-width
    // because the spread IS the aggregation's exchange.
    pairSupport(Tables.spread(b, col("ok"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("ps")))

  private def edges(s: SparkSession, dir: String): DataFrame =
    pairCounts(rawBaskets(s, dir))
      .filter(col("nij") >= 2).select("p1", "p2")

  private val basketsCte =
    "b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)"
  private val pairCte =
    """pair AS (SELECT b1.pk AS p1, b2.pk AS p2, COUNT(*) AS nij
      |  FROM b b1 JOIN b b2 ON b1.ok = b2.ok AND b1.pk < b2.pk
      |  GROUP BY b1.pk, b2.pk)""".stripMargin
  private val edgeCte = "edge AS (SELECT p1, p2 FROM pair WHERE nij >= 2)"

  /** `nb`, `item` and `r`: the supported pairs with both item counts and
    * the basket count. Twin of [[ruleCandidates]]. */
  private val ruleCtes =
    """nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM b),
      |item AS (SELECT pk, COUNT(*) AS ni FROM b GROUP BY pk),
      |r AS (SELECT p.p1, p.p2, p.nij, i1.ni AS n1, i2.ni AS n2, nb.n_baskets
      |      FROM pair p JOIN item i1 ON i1.pk = p.p1
      |                  JOIN item i2 ON i2.pk = p.p2, nb
      |      WHERE p.nij >= 2)""".stripMargin

  /** `sym`: each rule of `r` in both directions with its lift. Twin of
    * [[liftSym]]. */
  private val liftSymCte =
    """sym AS (SELECT p1 AS src, p2 AS rec, nij,
      |               nij * n_baskets * 1000000 // (n1 * n2) AS lift_ppm FROM r
      |        UNION ALL
      |        SELECT p2, p1, nij,
      |               nij * n_baskets * 1000000 // (n1 * n2) FROM r)""".stripMargin

  /** The supported pairs (nij >= 2) of the basket arrays `g`, joined to
    * both item counts (`i1.ni`, `i2.ni`) and the basket count
    * `n_baskets`. Twin of [[ruleCtes]]. */
  private def ruleCandidates(g: DataFrame): DataFrame = {
    val nb = g.agg(count(lit(1)).as("n_baskets"))
    val item = g.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("ni"))
    pairsFromGrouped(g).filter(col("nij") >= 2)
      .join(broadcast(item.as("i1")), col("p1") === col("i1.pk"))
      .join(broadcast(item.as("i2")), col("p2") === col("i2.pk"))
      .crossJoin(nb) // 1-row aggregate side
  }

  /** (src, rec, nij, lift_ppm): every rule of [[ruleCandidates]] in both
    * directions. Twin of [[liftSymCte]]. */
  private def liftSym(s: SparkSession, dir: String): DataFrame = {
    // both union branches read r — cut once so the basket self-join
    // doesn't run twice
    val r = ruleCandidates(basketsGrouped(s, dir))
      .select(col("p1"), col("p2"), col("nij"),
        expr("nij * n_baskets * 1000000 DIV (i1.ni * i2.ni)").as("lift_ppm"))
      .localCheckpoint(false)
    r.select(col("p1").as("src"), col("p2").as("rec"), col("nij"), col("lift_ppm"))
      .unionAll(r.select(col("p2").as("src"), col("p1").as("rec"),
        col("nij"), col("lift_ppm")))
  }

  /** MARKET-BASKET ASSOCIATION RULES — pair support / confidence / lift,
    * the classic co-occurrence mining primitive (Agrawal-Srikant Apriori
    * at its 2-itemset level, the level that matters for recommendation
    * candidate generation). All three metrics are emitted as exact
    * parts-per-million integers (`x * 1000000 DIV y`) so the result is
    * bit-identical across engines — no floating ratio anywhere.
    *
    * Shape at 100 TB: the pair enumeration is the bounded per-order
    * self-join (object scaladoc); item counts are a dimension-sized
    * aggregate joined back by BROADCAST; the single global basket count
    * is a 1-row aggregate crossJoined (planned as a broadcast nested
    * loop, not a cartesian). Top-100 by support via TakeOrderedAndProject
    * — no global sort materializes.
    *
    * Headroom: lift's numerator `nij * n_baskets * 1000000` stays inside
    * a BIGINT while nij * n_baskets < 9.2e12 — at larger scale promote
    * the product to DECIMAL(38,0) before the DIV (same answer, wider
    * intermediate). */
  val basketRules: Q = Q(
    "q_basket_rules",
    s"""WITH $basketsCte,
      |$pairCte,
      |$ruleCtes
      |SELECT p1, p2, nij, n1, n2,
      |       nij * 1000000 // n_baskets AS support_ppm,
      |       nij * 1000000 // n1 AS conf_1to2_ppm,
      |       nij * 1000000 // n2 AS conf_2to1_ppm,
      |       nij * n_baskets * 1000000 // (n1 * n2) AS lift_ppm
      |FROM r ORDER BY nij DESC, p1, p2 LIMIT 100""".stripMargin) { (s, dir) =>
    ruleCandidates(basketsGrouped(s, dir))
      .select(col("p1"), col("p2"), col("nij"),
        col("i1.ni").as("n1"), col("i2.ni").as("n2"), col("n_baskets"))
      .select(col("p1"), col("p2"), col("nij"), col("n1"), col("n2"),
        expr("nij * 1000000 DIV n_baskets").as("support_ppm"),
        expr("nij * 1000000 DIV n1").as("conf_1to2_ppm"),
        expr("nij * 1000000 DIV n2").as("conf_2to1_ppm"),
        expr("nij * n_baskets * 1000000 DIV (n1 * n2)").as("lift_ppm"))
      .orderBy(col("nij").desc, col("p1"), col("p2"))
      .limit(100)
  }

  /** TRIANGLE COUNT + global clustering coefficient via DEGREE-ORDERED
    * ORIENTATION — the standard scalable formulation (Cohen's MapReduce
    * triangle counting; Suri-Vassilvitskii WWW'11): orient each undirected
    * edge from its lower-(degree, id) endpoint to the higher, enumerate
    * wedges only at each node's ORIENTED out-neighbors, and close a wedge
    * with one equi-join back to the oriented edge list. Every triangle is
    * counted exactly once (its orientation-minimum vertex owns both
    * out-edges). Orientation bounds out-degree by O(sqrt(m)) on any graph
    * — the wedge blowup is m^1.5 worst-case instead of sum(deg^2), which
    * is what makes the join survive a skewed 100-TB graph where a hub
    * vertex would otherwise generate deg^2 wedges.
    *
    * The orientation key packs (degree, id) into one BIGINT
    * (`d * 2^32 + v`) so the tie-broken total order is a single integer
    * compare in both engines (ids and degrees < 2^31 here; at wider id
    * spaces use a struct compare instead).
    *
    * Output is one row: node/edge/wedge/triangle counts, open-triplet
    * count sum(C(d,2)), and the global clustering coefficient
    * 3*triangles/triplets in exact ppm. */
  val triangleCount: Q = Q(
    "q_triangle_count",
    s"""WITH $basketsCte,
      |$pairCte,
      |$edgeCte,
      |deg AS (SELECT v, COUNT(*) AS d, COUNT(*) * 4294967296 + v AS okey
      |        FROM (SELECT p1 AS v FROM edge UNION ALL SELECT p2 AS v FROM edge)
      |        GROUP BY v),
      |ori AS (SELECT CASE WHEN d1.okey < d2.okey THEN e.p1 ELSE e.p2 END AS u,
      |               CASE WHEN d1.okey < d2.okey THEN e.p2 ELSE e.p1 END AS w
      |        FROM edge e JOIN deg d1 ON d1.v = e.p1 JOIN deg d2 ON d2.v = e.p2),
      |wedge AS (SELECT CASE WHEN d1.okey < d2.okey THEN o1.w ELSE o2.w END AS wv,
      |                 CASE WHEN d1.okey < d2.okey THEN o2.w ELSE o1.w END AS ww
      |          FROM ori o1 JOIN ori o2 ON o1.u = o2.u AND o1.w < o2.w
      |          JOIN deg d1 ON d1.v = o1.w JOIN deg d2 ON d2.v = o2.w),
      |tri AS (SELECT COUNT(*) AS n_triangles
      |        FROM wedge w JOIN ori o ON o.u = w.wv AND o.w = w.ww),
      |trip AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_triplets FROM deg)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
      |       (SELECT COUNT(*) FROM edge) AS n_edges,
      |       (SELECT COUNT(*) FROM wedge) AS n_wedges,
      |       t.n_triangles, p.n_triplets,
      |       3 * t.n_triangles * 1000000 // p.n_triplets AS gcc_ppm
      |FROM tri t, trip p""".stripMargin) { (s, dir) =>
    // edge list, degrees, and oriented edges are each read by several
    // branches (wedge self-join, closing join, count rows) — a lazy
    // localCheckpoint materializes each once instead of re-deriving the
    // basket self-join per reference (38 exchanges -> 8 in the plan).
    val e = edges(s, dir).localCheckpoint(false)
    val deg = e.select(col("p1").as("v")).unionAll(e.select(col("p2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .withColumn("okey", col("d") * lit(4294967296L) + col("v"))
      .localCheckpoint(false)
    val ori = e
      .join(deg.as("d1"), col("p1") === col("d1.v"))
      .join(deg.as("d2"), col("p2") === col("d2.v"))
      .select(
        when(col("d1.okey") < col("d2.okey"), col("p1")).otherwise(col("p2")).as("u"),
        when(col("d1.okey") < col("d2.okey"), col("p2")).otherwise(col("p1")).as("w"))
      .localCheckpoint(false)
    val wedge = ori.as("o1")
      .join(ori.as("o2"),
        col("o1.u") === col("o2.u") && col("o1.w") < col("o2.w"))
      .join(deg.as("e1"), col("o1.w") === col("e1.v"))
      .join(deg.as("e2"), col("o2.w") === col("e2.v"))
      .select(
        when(col("e1.okey") < col("e2.okey"), col("o1.w")).otherwise(col("o2.w")).as("wv"),
        when(col("e1.okey") < col("e2.okey"), col("o2.w")).otherwise(col("o1.w")).as("ww"))
    val tri = wedge.join(ori.as("c"),
        col("wv") === col("c.u") && col("ww") === col("c.w"))
      .agg(count(lit(1)).as("n_triangles"))
    val trip = deg.agg(
      sum(expr("d * (d - 1) DIV 2")).cast("long").as("n_triplets"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nWedges = wedge.agg(count(lit(1)).as("n_wedges"))
    nNodes.crossJoin(nEdges).crossJoin(nWedges).crossJoin(tri).crossJoin(trip)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), col("n_triplets"),
        expr("3 * n_triangles * 1000000 DIV n_triplets").as("gcc_ppm"))
  }

  /** FIXED-POINT PAGERANK, 3 unrolled iterations, damping 0.85 — the
    * canonical link-importance measure, run Pregel-style in pure SQL:
    * each iteration is one shuffle of rank contributions `r DIV d` along
    * the (symmetrized) edge list keyed by destination, aggregated with a
    * map-side combine, then the damping update
    * `0.15*SCALE + (85 * sum) DIV 100`.
    *
    * Determinism is the whole design: ranks live as BIGINTs scaled by
    * 1e9 and every step is integer multiply/divide — exact, associative,
    * order-independent — so three engines' shuffle orders all produce
    * bit-identical ranks (a double-based PageRank would drift in the
    * last ulps and fail a hash compare). Total mass stays ~n*1e9, far
    * below 2^63; each DIV truncates at most 1 unit per edge per round,
    * a bounded, deterministic leak.
    *
    * Shape at 100 TB: a fixed iteration count keeps this ONE Catalyst
    * plan (no driver loop, no checkpoint barrier); each round is a
    * shuffle on the destination key. For an open-ended iterate-to-
    * convergence variant you would loop in the driver with
    * localCheckpoint per round to cut lineage — documented, not needed
    * for a fixed-depth rank. Every node in the edge set has degree >= 1
    * by construction, so there are no dangling-mass corrections. */
  val pageRank: Q = Q(
    "q_pagerank",
    s"""WITH $basketsCte,
      |$pairCte,
      |$edgeCte,
      |sym AS (SELECT p1 AS u, p2 AS v FROM edge
      |        UNION ALL SELECT p2 AS u, p1 AS v FROM edge),
      |deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
      |r0 AS (SELECT node, d, CAST(1000000000 AS BIGINT) AS r FROM deg),
      |c1 AS (SELECT s.v AS node, CAST(SUM(r.r // r.d) AS BIGINT) AS cin
      |       FROM sym s JOIN r0 r ON r.node = s.u GROUP BY s.v),
      |r1 AS (SELECT d.node, d.d, 150000000 + (85 * COALESCE(c.cin, 0)) // 100 AS r
      |       FROM deg d LEFT JOIN c1 c ON c.node = d.node),
      |c2 AS (SELECT s.v AS node, CAST(SUM(r.r // r.d) AS BIGINT) AS cin
      |       FROM sym s JOIN r1 r ON r.node = s.u GROUP BY s.v),
      |r2 AS (SELECT d.node, d.d, 150000000 + (85 * COALESCE(c.cin, 0)) // 100 AS r
      |       FROM deg d LEFT JOIN c2 c ON c.node = d.node),
      |c3 AS (SELECT s.v AS node, CAST(SUM(r.r // r.d) AS BIGINT) AS cin
      |       FROM sym s JOIN r2 r ON r.node = s.u GROUP BY s.v),
      |r3 AS (SELECT d.node, d.d, 150000000 + (85 * COALESCE(c.cin, 0)) // 100 AS r
      |       FROM deg d LEFT JOIN c3 c ON c.node = d.node)
      |SELECT node AS part, d AS degree, r AS rank_scaled
      |FROM r3 ORDER BY r DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
    // sym and deg feed every iteration — cut once, reuse three times
    val e = edges(s, dir)
    val sym = e.select(col("p1").as("u"), col("p2").as("v"))
      .unionAll(e.select(col("p2").as("u"), col("p1").as("v")))
      .localCheckpoint(false)
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint(false)
    val r0 = deg.select(col("node"), col("d"), lit(1000000000L).as("r"))
    def step(r: DataFrame): DataFrame = {
      val cin = sym.as("s")
        .join(r.as("r"), col("s.u") === col("r.node"))
        .select(col("s.v").as("dst"), expr("r DIV d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
      deg.join(cin, col("node") === col("dst"), "left")
        .select(col("node"), col("d"),
          (lit(150000000L) + expr("(85 * coalesce(cin, 0)) DIV 100")).as("r"))
    }
    val r3 = step(step(step(r0)))
    r3.select(col("node").as("part"), col("d").as("degree"),
        col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("part"))
      .limit(20)
  }

  /** K-CORE DECOMPOSITION (k=3, three unrolled peeling rounds) — the
    * degeneracy-based community/cohesion primitive: repeatedly remove
    * nodes with degree < k and the edges they carry, reporting the
    * surviving node/edge count per round. Three fixed rounds keep it ONE
    * Catalyst plan (the open-ended converge-until-fixpoint form loops in
    * the driver with localCheckpoint per round, exactly like iterative
    * PageRank — documented on [[pageRank]]); the emitted `round` rows let
    * a caller see whether the peel had already stabilized.
    *
    * Each round is: degree count (map-side combined) -> survivor filter
    * -> LEFT SEMI joins of the edge list against survivors on each
    * endpoint — all keyed equi-joins; the survivor side shrinks
    * monotonically and broadcasts once it fits. */
  val kCore: Q = Q(
    "q_kcore",
    s"""WITH $basketsCte,
      |$pairCte,
      |e0 AS (SELECT p1, p2 FROM pair WHERE nij >= 2),
      |d0 AS (SELECT v, COUNT(*) AS d
      |       FROM (SELECT p1 AS v FROM e0 UNION ALL SELECT p2 AS v FROM e0)
      |       GROUP BY v),
      |a1 AS (SELECT v FROM d0 WHERE d >= 3),
      |e1 AS (SELECT p1, p2 FROM e0 WHERE p1 IN (SELECT v FROM a1)
      |                               AND p2 IN (SELECT v FROM a1)),
      |d1 AS (SELECT v, COUNT(*) AS d
      |       FROM (SELECT p1 AS v FROM e1 UNION ALL SELECT p2 AS v FROM e1)
      |       GROUP BY v),
      |a2 AS (SELECT v FROM d1 WHERE d >= 3),
      |e2 AS (SELECT p1, p2 FROM e1 WHERE p1 IN (SELECT v FROM a2)
      |                               AND p2 IN (SELECT v FROM a2)),
      |d2 AS (SELECT v, COUNT(*) AS d
      |       FROM (SELECT p1 AS v FROM e2 UNION ALL SELECT p2 AS v FROM e2)
      |       GROUP BY v),
      |a3 AS (SELECT v FROM d2 WHERE d >= 3),
      |e3 AS (SELECT p1, p2 FROM e2 WHERE p1 IN (SELECT v FROM a3)
      |                               AND p2 IN (SELECT v FROM a3))
      |SELECT 0 AS round, (SELECT COUNT(*) FROM d0) AS n_nodes,
      |       (SELECT COUNT(*) FROM e0) AS n_edges
      |UNION ALL SELECT 1, (SELECT COUNT(*) FROM a1), (SELECT COUNT(*) FROM e1)
      |UNION ALL SELECT 2, (SELECT COUNT(*) FROM a2), (SELECT COUNT(*) FROM e2)
      |UNION ALL SELECT 3, (SELECT COUNT(*) FROM a3), (SELECT COUNT(*) FROM e3)
      |ORDER BY round""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.DataFrame
    // Every round's edge list and degree table is referenced by several
    // downstream branches (the next peel AND the per-round count rows);
    // without a lineage cut the unrolled plan re-derives the base
    // edge-construction join once per reference (measured 9s -> 2s at
    // sf0.1). A LAZY localCheckpoint materializes each round once on
    // first use — the standard iterative-graph round barrier (at cluster
    // scale, a reliable checkpoint dir instead of executor-local blocks).
    def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)
    def degrees(e: DataFrame): DataFrame =
      cut(e.select(col("p1").as("v")).unionAll(e.select(col("p2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d")))
    def peel(e: DataFrame, d: DataFrame): DataFrame = {
      val alive = d.filter(col("d") >= 3).select("v")
      cut(e.join(alive, col("p1") === col("v"), "left_semi")
        .join(alive, col("p2") === col("v"), "left_semi"))
    }
    val e0 = cut(edges(s, dir))
    val d0 = degrees(e0)
    val e1 = peel(e0, d0); val d1 = degrees(e1)
    val e2 = peel(e1, d1); val d2 = degrees(e2)
    val e3 = peel(e2, d2)
    def row(round: Int, nodes: DataFrame, es: DataFrame): DataFrame =
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(es.agg(count(lit(1)).as("n_edges")))
        .select(lit(round).as("round"), col("n_nodes"), col("n_edges"))
    row(0, d0, e0)
      .unionAll(row(1, d0.filter(col("d") >= 3), e1))
      .unionAll(row(2, d1.filter(col("d") >= 3), e2))
      .unionAll(row(3, d2.filter(col("d") >= 3), e3))
  }

  /** CONNECTED COMPONENTS of the co-purchase graph — the SAME
    * pointer-jumping min-label engine the dedup pipeline runs
    * ([[graft.engine.Dedup.components]]: O(log diameter) rounds, keyed
    * shuffles only) applied to a second domain, proving the operator is
    * generic over any edge list. Output is the component-SIZE histogram —
    * the shape a curation pipeline reads to see whether its similarity
    * graph has collapsed into a giant component (over-merging) or stayed
    * granular. The DuckDB mirror closes the same edges with a recursive
    * CTE and aggregates identically, so the iterative fixpoint is
    * hash-checked end to end. */
  val graphComponents: Q = Q(
    "q_graph_components",
    s"""WITH RECURSIVE $basketsCte,
      |$pairCte,
      |$edgeCte,
      |sym AS (SELECT p1 AS a, p2 AS b FROM edge
      |        UNION SELECT p2, p1 FROM edge),
      |$closureCtes,
      |sizes AS (SELECT cluster, COUNT(*) AS sz FROM comp GROUP BY cluster)
      |SELECT sz AS component_size, COUNT(*) AS n_components,
      |       CAST(SUM(sz) AS BIGINT) AS n_nodes
      |FROM sizes GROUP BY sz ORDER BY component_size""".stripMargin) { (s, dir) =>
    graft.engine.Dedup.components(edges(s, dir))
      .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("sz")).cast("long").as("n_nodes"))
  }

  /** DEGREE HISTOGRAM — the first diagnostic read on any graph (skew,
    * hubs, connectivity): node count per degree of the support graph.
    * Two map-side-combined aggregations; trivially linear. */
  val degreeHistogram: Q = Q(
    "q_degree_histogram",
    s"""WITH $basketsCte,
      |$pairCte,
      |$edgeCte,
      |deg AS (SELECT v, COUNT(*) AS d
      |        FROM (SELECT p1 AS v FROM edge UNION ALL SELECT p2 AS v FROM edge)
      |        GROUP BY v)
      |SELECT d AS degree, COUNT(*) AS n_nodes
      |FROM deg GROUP BY d ORDER BY degree""".stripMargin) { (s, dir) =>
    // explode both endpoints in ONE pass over the edge list — a unionAll of
    // two selects on the same derived frame would execute the whole pair
    // pipeline twice (no lineage cut here, unlike kCore's per-round cuts)
    edges(s, dir)
      .select(explode(array(col("p1"), col("p2"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .groupBy(col("d").as("degree")).agg(count(lit(1)).as("n_nodes"))
  }

  /** ITEM-ITEM RECOMMENDATIONS — top-3 co-purchase partners per part by
    * lift (ties by partner id): the candidate-generation step of an
    * item-based collaborative filter, derived from the same rule table as
    * q_basket_rules but symmetrized (each edge recommends in BOTH
    * directions) and ranked per source item. The rank window partitions
    * by the source part — partition size is the part's graph degree,
    * bounded by the support cut, never the corpus. */
  val recommendTopk: Q = Q(
    "q_recommend_topk",
    s"""WITH $basketsCte,
      |$pairCte,
      |$ruleCtes,
      |$liftSymCte,
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
      |                 ORDER BY lift_ppm DESC, rec) AS rnk FROM sym)
      |SELECT src, rec, nij, lift_ppm, rnk
      |FROM rk WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val sym = liftSym(s, dir)
    val w = Window.partitionBy("src").orderBy(col("lift_ppm").desc, col("rec"))
    sym.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  /** BFS SHORTEST HOPS (4 unrolled frontier expansions) — hop distance
    * from a deterministic root (the graph's minimum vertex id) to every
    * vertex within 4 hops: the neighborhood/reachability primitive behind
    * related-item exploration and duplicate-cluster radius checks. Four
    * fixed rounds keep it ONE Catalyst plan (the kCore convention); each
    * round is frontier JOIN edge-list -> union -> distinct — a keyed
    * equi-join whose frontier side shrinks/broadcasts, the textbook
    * scalable BFS step (no per-path enumeration: the frontier is a SET, so
    * a dense graph costs |reachable| x degree per round, never the
    * path-count blowup a naive recursive walk pays). The DuckDB mirror IS
    * that naive bounded recursive walk — correct at oracle scale, and the
    * cost contrast is the point.
    *
    * Determinism: hop distance is MIN over discovery rounds — set
    * semantics, no tie-break needed. All integers. */
  val bfsHops: Q = Q(
    "q_bfs_hops",
    s"""WITH RECURSIVE $basketsCte,
      |$pairCte,
      |$edgeCte,
      |und AS (SELECT p1 AS src, p2 AS dst FROM edge
      |        UNION ALL SELECT p2, p1 FROM edge),
      |root AS (SELECT MIN(p1) AS node FROM edge),
      |walk(node, dist) AS (
      |  SELECT node, 0 FROM root
      |  UNION ALL
      |  SELECT u.dst, w.dist + 1 FROM walk w JOIN und u ON u.src = w.node
      |  WHERE w.dist < 4)
      |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM walk GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
    def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)
    val e = cut(edges(s, dir))
    val und = cut(e.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(e.select(col("p2").as("src"), col("p1").as("dst"))))
    val root = e.agg(min(col("p1")).as("node"))
    var reach = cut(root.select(col("node"), lit(0L).as("dist")))
    for (k <- 1 to 4) {
      val next = reach.join(und, reach("node") === und("src"))
        .select(und("dst").as("node"), lit(k.toLong).as("dist"))
      reach = cut(reach.unionAll(next)
        .groupBy("node").agg(min(col("dist")).as("dist")))
    }
    reach
  }

  /** RECIPROCAL BEST MATCH — the item pairs that are each other's #1
    * co-purchase partner by lift: the mutual/reciprocal-nearest-neighbor
    * criterion, the high-precision matching rule entity-resolution and
    * image-dedup pipelines use (a one-way best match can be a hub
    * artifact; a MUTUAL one almost never is). Built from the same
    * symmetrized lift table as q_recommend_topk: keep each node's rank-1
    * partner, join the table to itself on the reversed pair, emit each
    * mutual pair once (src < rec).
    *
    * Shape at 100 TB: rank-1 per node via one bounded window (partition =
    * node, frame bounded by graph degree), then ONE keyed self-equi-join
    * on the reversed pair — |nodes| rows against |nodes| rows, nothing
    * quadratic. Deterministic: lift ties break on the smaller partner id,
    * the same total order both engines sort. */
  val mutualBestMatch: Q = Q(
    "q_mutual_best_match",
    s"""WITH $basketsCte,
      |$pairCte,
      |$ruleCtes,
      |$liftSymCte,
      |best AS (SELECT src, rec, nij, lift_ppm FROM (
      |           SELECT *, ROW_NUMBER() OVER (PARTITION BY src
      |                     ORDER BY lift_ppm DESC, rec) AS rnk FROM sym)
      |         WHERE rnk = 1)
      |SELECT a.src AS p1, a.rec AS p2, a.nij,
      |       a.lift_ppm AS lift_1to2_ppm, m.lift_ppm AS lift_2to1_ppm
      |FROM best a JOIN best m ON m.src = a.rec AND m.rec = a.src
      |WHERE a.src < a.rec
      |ORDER BY p1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val sym = liftSym(s, dir)
    val w = Window.partitionBy("src").orderBy(col("lift_ppm").desc, col("rec"))
    val best = sym.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1).drop("rnk")
      .localCheckpoint(false) // referenced by both join sides
    best.as("a")
      .join(best.as("m"),
        col("m.src") === col("a.rec") && col("m.rec") === col("a.src"))
      .filter(col("a.src") < col("a.rec"))
      .select(col("a.src").as("p1"), col("a.rec").as("p2"), col("a.nij"),
        col("a.lift_ppm").as("lift_1to2_ppm"), col("m.lift_ppm").as("lift_2to1_ppm"))
  }

  /** LINK PREDICTION (common-neighbors / Jaccard) — for every 2-hop pair
    * of the support graph that is NOT already an edge, the classical
    * neighborhood-overlap scores: common-neighbor count and Jaccard
    * |Γa∩Γb| / |Γa∪Γb| in exact ppm — the graph-completion primitive
    * behind "customers also bought" candidate generation and knowledge-
    * graph edge suggestion (Liben-Nowell & Kleinberg 2003).
    *
    * Shape at 100 TB: candidate pairs meet ONLY through a shared-neighbor
    * equi-join, and wedges are routed through carriers of degree <= 64
    * (the q_jaccard_neardup df-cut idiom — a hub would otherwise fan out
    * deg^2 wedges; capping carriers bounds per-key fan-out by a constant
    * while keeping every pair whose overlap has at least one non-hub
    * witness). Degrees are a dimension-sized aggregate joined back
    * broadcast; existing edges drop via one LEFT ANTI join; top-30 is
    * TakeOrderedAndProject. Jaccard's denominator uses FULL degrees, so
    * the score is exact for every surviving pair. */
  val linkPredict: Q = Q(
    "q_link_predict",
    s"""WITH $basketsCte,
      |$pairCte,
      |$edgeCte,
      |sym AS (SELECT p1 AS v, p2 AS n FROM edge
      |        UNION ALL SELECT p2, p1 FROM edge),
      |deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
      |symc AS (SELECT s.v, s.n FROM sym s JOIN deg c ON c.v = s.n AND c.d <= 64),
      |cand AS (
      |  SELECT x.v AS a, y.v AS b, COUNT(*) AS cn
      |  FROM symc x JOIN symc y ON y.n = x.n AND x.v < y.v
      |  GROUP BY x.v, y.v),
      |ne AS (
      |  SELECT c.a, c.b, c.cn FROM cand c
      |  LEFT JOIN edge e ON e.p1 = c.a AND e.p2 = c.b
      |  WHERE e.p1 IS NULL),
      |r AS (SELECT ne.a, ne.b, ne.cn, da.d AS da, db.d AS db
      |      FROM ne JOIN deg da ON da.v = ne.a JOIN deg db ON db.v = ne.b)
      |SELECT a, b, CAST(cn AS BIGINT) AS common_neighbors,
      |       CAST(da AS BIGINT) AS deg_a, CAST(db AS BIGINT) AS deg_b,
      |       CAST(cn * 1000000 // (da + db - cn) AS BIGINT) AS jaccard_ppm
      |FROM r
      |ORDER BY common_neighbors DESC, jaccard_ppm DESC, a, b
      |LIMIT 30""".stripMargin) { (s, dir) =>
    val e = edges(s, dir) // p1 < p2, support >= 2
    val sym = e.select(col("p1").as("v"), col("p2").as("n"))
      .unionAll(e.select(col("p2").as("v"), col("p1").as("n")))
    val deg = sym.groupBy("v").agg(count(lit(1)).as("d"))
    // wedge carriers capped at degree 64: bounded per-key fan-out
    val carriers = deg.filter(col("d") <= 64).select(col("v").as("n"))
    val symc = sym.join(broadcast(carriers), Seq("n"))
    val cand = symc.as("x").join(symc.as("y"),
      col("y.n") === col("x.n") && col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("a"), col("y.v").as("b"))
      .agg(count(lit(1)).as("cn"))
    val ne = cand.join(e,
      cand("a") === e("p1") && cand("b") === e("p2"), "left_anti")
    ne.join(broadcast(deg.select(col("v").as("a"), col("d").as("da"))), "a")
      .join(broadcast(deg.select(col("v").as("b"), col("d").as("db"))), "b")
      .select(col("a"), col("b"), col("cn").cast("long").as("common_neighbors"),
        col("da").cast("long").as("deg_a"), col("db").cast("long").as("deg_b"),
        expr("cn * 1000000 DIV (da + db - cn)").cast("long").as("jaccard_ppm"))
      .orderBy(col("common_neighbors").desc, col("jaccard_ppm").desc,
        col("a"), col("b"))
      .limit(30)
  }

  /** PARTITION MODULARITY — Newman-Girvan modularity of the co-purchase
    * graph under the p_brand partition: Q = Σ_c [e_c/m − (d_c/2m)²], the
    * standard score for "does this grouping explain the link structure?"
    * (community detection's objective, applied here as the EVALUATION
    * operator: the engine's cluster assignments — components, grid cells,
    * dedup clusters — get graded against the graph they came from).
    *
    * Exactness: per community, contrib·10⁶ = (4m·e_c − d_c²)·10⁶ / 4m²
    * with integer counts only; the global modularity sums the integer
    * NUMERATORS first and divides once, so it is exact (not a sum of
    * per-community floors). Both can be negative → the +K·den offset
    * before the floor-division (K = 10⁷), same convention as q_autocorr.
    * Products live in DECIMAL(38,0)/HUGEINT: m ≤ 10¹⁵ keeps 4m²·10⁶
    * under 38 digits.
    *
    * Shape at 100 TB: the bounded per-order pair enumeration (object
    * scaladoc) → support-cut edges → TWO broadcast joins to the part→brand
    * dimension → a ~|brands|-sized aggregation. No step exceeds the edge
    * list's own shuffle. */
  val modularity: Q = Q(
    "q_modularity",
    s"""WITH $basketsCte,
      |$pairCte,
      |$edgeCte,
      |lab AS (SELECT p_partkey AS pk, p_brand AS brand FROM part),
      |e AS (
      |  SELECT b1.brand AS brand1, b2.brand AS brand2
      |  FROM edge JOIN lab b1 ON b1.pk = edge.p1
      |            JOIN lab b2 ON b2.pk = edge.p2),
      |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM e),
      |intra AS (
      |  SELECT brand1 AS brand, COUNT(*) AS ec FROM e
      |  WHERE brand1 = brand2 GROUP BY brand1),
      |deg AS (
      |  SELECT brand, CAST(SUM(d) AS HUGEINT) AS dc FROM (
      |    SELECT brand1 AS brand, COUNT(*) AS d FROM e GROUP BY brand1
      |    UNION ALL
      |    SELECT brand2 AS brand, COUNT(*) AS d FROM e GROUP BY brand2) u
      |  GROUP BY brand),
      |c AS (
      |  SELECT deg.brand, COALESCE(intra.ec, 0) AS ec, deg.dc, m.m
      |  FROM deg LEFT JOIN intra ON intra.brand = deg.brand, m),
      |x AS (
      |  SELECT brand, ec, dc, m,
      |         (4 * m * CAST(ec AS HUGEINT) - dc * dc) * 1000000 AS num,
      |         4 * m * m AS den
      |  FROM c)
      |SELECT brand, CAST(ec AS BIGINT) AS intra_edges, CAST(dc AS BIGINT)
      |         AS degree_sum, CAST(m AS BIGINT) AS m_edges,
      |       CAST((num + 10000000 * den) // den - 10000000 AS BIGINT)
      |         AS contrib_ppm,
      |       CAST(((SELECT SUM(num) FROM x) + 10000000 * den) // den
      |            - 10000000 AS BIGINT) AS modularity_ppm
      |FROM x ORDER BY brand""".stripMargin) { (s, dir) =>
    val lab = t(s, dir, "part")
      .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
    val e = edges(s, dir)
      .join(broadcast(lab.withColumnRenamed("pk", "p1")
        .withColumnRenamed("brand", "brand1")), "p1")
      .join(broadcast(lab.withColumnRenamed("pk", "p2")
        .withColumnRenamed("brand", "brand2")), "p2")
      .select("brand1", "brand2")
      .localCheckpoint(false) // edge labels read by m / intra / deg
    val m = e.agg(count(lit(1)).cast("decimal(38,0)").as("m"))
    val intra = e.filter(col("brand1") === col("brand2"))
      .groupBy(col("brand1").as("brand")).agg(count(lit(1)).as("ec"))
    val deg = e.select(col("brand1").as("brand"))
      .unionAll(e.select(col("brand2").as("brand")))
      .groupBy("brand").agg(count(lit(1)).cast("decimal(38,0)").as("dc"))
    val x = deg
      .join(intra, Seq("brand"), "left")
      .na.fill(0L, Seq("ec"))
      .crossJoin(broadcast(m)) // 1-row global edge count
      .select(col("brand"), col("ec"), col("dc"), col("m"),
        expr("(4 * m * CAST(ec AS DECIMAL(38,0)) - dc * dc) * 1000000")
          .as("num"),
        expr("4 * m * m").as("den"))
    val tot = x.agg(sum(col("num")).as("tot_num"))
    x.crossJoin(broadcast(tot)) // 1-row numerator total
      .select(col("brand"), col("ec").cast("long").as("intra_edges"),
        col("dc").cast("long").as("degree_sum"),
        col("m").cast("long").as("m_edges"),
        expr("CAST((num + 10000000 * den) DIV den - 10000000 AS BIGINT)")
          .as("contrib_ppm"),
        expr("CAST((tot_num + 10000000 * den) DIV den - 10000000 AS BIGINT)")
          .as("modularity_ppm"))
  }

  val all: Seq[Q] =
    Seq(basketRules, triangleCount, pageRank, kCore, graphComponents,
      degreeHistogram, recommendTopk, bfsHops, mutualBestMatch, linkPredict,
      modularity)
}
