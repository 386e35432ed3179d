package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.AuditQueries

/** Pins the audit semantics the oracle can't state: planted FK orphans
  * are found (and clean edges report zero), reconciliation cents are
  * exact on crafted books, and the A/B readout agrees with a
  * hand-folded contingency table under the single-sourced hash split. */
class AuditSpec extends SparkSpec {

  private def writeTable(dir: String, name: String, schema: StructType,
      rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("fk integrity: planted orphans counted by row AND key; clean edges zero") {
    val d = Files.createTempDirectory("graft-audit").toString
    writeTable(d, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType))),
      Seq(Row(1L, 10L), Row(2L, 10L), Row(3L, 99L))) // custkey 99 orphan
    writeTable(d, "customer", StructType(Seq(
      StructField("c_custkey", LongType))), Seq(Row(10L), Row(11L)))
    writeTable(d, "part", StructType(Seq(
      StructField("p_partkey", LongType))), Seq(Row(100L)))
    writeTable(d, "supplier", StructType(Seq(
      StructField("s_suppkey", LongType))), Seq(Row(200L)))
    writeTable(d, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType))),
      Seq(
        Row(1L, 100L, 200L), // fully valid
        Row(7L, 100L, 200L), Row(7L, 100L, 200L), // orderkey 7 orphan x2 rows
        Row(8L, 100L, 200L))) // orderkey 8 orphan
    val got = AuditQueries.fkIntegrity.build(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got("lineitem.l_orderkey->orders") == ((4L, 3L, 2L)))
    assert(got("lineitem.l_partkey->part") == ((4L, 0L, 0L)))
    assert(got("lineitem.l_suppkey->supplier") == ((4L, 0L, 0L)))
    assert(got("orders.o_custkey->customer") == ((3L, 1L, 1L)))
  }

  test("order reconcile: exact cents, mismatches surfaced, 0-line orders kept") {
    val d = Files.createTempDirectory("graft-audit2").toString
    writeTable(d, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType))),
      Seq(Row(1L, 220.0), Row(2L, 100.0), Row(3L, 50.0)))
    writeTable(d, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType))),
      Seq(
        // order 1: 100*(1-0)*(1+0.1) + 100*(1-0)*(1+0.1) = 220 — consistent
        Row(1L, 100.0, 0.0, 0.1), Row(1L, 100.0, 0.0, 0.1),
        // order 2: 100*(1-0.25)*(1+0) = 75 -> 25.00 off
        Row(2L, 100.0, 0.25, 0.0)))
    // order 3 has no lines -> computed_total null, diff = full header amount
    // sorted in the test: the query emits rows unsorted (presentation
    // order was never the contract; the driver compare sorts too)
    val got = AuditQueries.orderReconcile.build(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .toSeq.sortBy(_._1)
    assert(got == Seq((1L, 2L, 0L), (2L, 1L, 2500L), (3L, 0L, 5000L)))
  }

  test("ab lift: readout equals a hand-folded table under the shared split") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-audit3").toString
    val users = (1L to 40L).toSeq
    val converted = users.filter(_ % 3 == 0).toSet
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    writeTable(d, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      users.flatMap { u =>
        Seq(Row(u * 10, u, t0, "view", 1.0, "{}")) ++
          (if (converted(u)) Seq(Row(u * 10 + 1, u, t0, "purchase", 1.0, "{}"))
           else Nil)
      })
    // fold the expected 2x2 table through the SAME single-sourced hash
    val arms = users.toDF("user_id")
      .select(col("user_id"),
        (graft.functions.Text.md5Hash32(
          concat(lit("exp1:"), col("user_id").cast("string"))) % 2).as("arm"))
      .as[(Long, Long)].collect().toMap
    val (nC, nT) = (arms.count(_._2 == 0L).toLong, arms.count(_._2 == 1L).toLong)
    val cC = users.count(u => arms(u) == 0L && converted(u)).toLong
    val cT = users.count(u => arms(u) == 1L && converted(u)).toLong
    val r = AuditQueries.abLift.build(spark, d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((nC, cC, nT, cT)))
    assert(r.getLong(4) == cC * 1000000L / nC)
    assert(r.getLong(5) == cT * 1000000L / nT)
    assert(r.getLong(6) == cT * nC * 1000000L / (cC * nT))
    val adbc = cC * (nT - cT) - cT * (nC - cC)
    val expChi2 = ((nC + nT) * adbc * adbc).toDouble /
      ((cC + cT) * ((nC - cC) + (nT - cT)) * nC * nT).toDouble
    assert(r.getDouble(7) == expChi2, "chi2 is the exact-operand IEEE division")
  }

  test("key skew report: crafted hot key shows in max and top-10 share") {
    val d = Files.createTempDirectory("graft-audit4").toString
    // orders: custkey 1 holds 60 of 100 rows; 40 singleton custkeys
    writeTable(d, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType))),
      (1 to 60).map(i => Row(i.toLong, 1L)) ++
        (61 to 100).map(i => Row(i.toLong, i.toLong)))
    writeTable(d, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType))),
      (1 to 10).map(i => Row(i.toLong)))
    writeTable(d, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (1 to 10).map(i => Row(i.toLong, 1L,
        Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1.0, "{}")))
    val got = graft.queries.ProfileQueries.keySkewReport.build(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // 41 keys / 100 rows; max 60; mean 2.43; top-10 = 60 + 9 singles = 69%
    assert(got("orders.o_custkey") == ((41L, 100L, 60L, 243L, 690000L)))
    assert(got("lineitem.l_orderkey") == ((10L, 10L, 1L, 100L, 1000000L)))
    assert(got("events.user_id") == ((1L, 10L, 10L, 1000L, 1000000L)))
  }

  test("benford gate: conforming books pass, uniform digits flag") {
    val d = Files.createTempDirectory("graft-benford").toString
    // BENFORD group: 1000 orders whose first-digit counts are the law's
    // own masses at per-mille resolution (301, 176, ..., 46) -> the
    // divergence is the quantization residue only, orders of magnitude
    // under the 200000 gate. UNIFORM group: 112 orders per digit — the
    // fabricated-books signature the gate exists to catch (~4e5 ppm).
    val benford = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
    val rows =
      benford.zipWithIndex.flatMap { case (n, i) =>
        Seq.fill(n)(Row("1-BENFORD", (i + 1) * 10.0))
      } ++
        (1 to 9).flatMap(dd => Seq.fill(112)(Row("2-UNIFORM", dd * 10.0)))
    writeTable(d, "orders", StructType(Seq(
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType))), rows)
    val got = AuditQueries.benfordGate.build(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val (bn, bStat, bD1, bFlag) = got("1-BENFORD")
    assert(bn == 1000L && !bFlag && bStat < 1000L, s"benford stat $bStat")
    assert(bD1 == 301000L)
    val (un, uStat, uD1, uFlag) = got("2-UNIFORM")
    assert(un == 1008L && uFlag && uStat > 200000L, s"uniform stat $uStat")
    assert(uD1 == 112L * 1000000L / 1008L)
    // hand-check the uniform stat: every digit observes 111111 ppm
    val exp = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val obs = 112L * 1000000L / 1008L
    assert(uStat == exp.map(e => (obs - e) * (obs - e) / e).sum)
  }

  test("expectations: planted contract violations counted per rule") {
    val d = Files.createTempDirectory("graft-exp").toString
    writeTable(d, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType))),
      Seq(
        Row(1L, 100.0, "2-HIGH"),
        Row(1L, 200.0, "5-LOW"),          // duplicate key
        Row(null, 300.0, "BOGUS"),        // null key + bad value
        Row(3L, 2000000.0, "1-URGENT")))  // out-of-range price
    writeTable(d, "customer", StructType(Seq(
      StructField("c_mktsegment", StringType))),
      Seq(Row("BUILDING"), Row("YACHTS"))) // one off-contract segment
    writeTable(d, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_discount", DoubleType))),
      Seq(
        Row(1L, 1, 10.0, 0.05),
        Row(1L, 1, 99.0, 1.50),  // dup composite key + qty & discount breaches
        Row(1L, 2, 50.0, 0.0)))
    // ts present (nanos long, the testdata layout) so Tables.t's footer
    // branch resolves; the contract rules never read it
    writeTable(d, "events", StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType))),
      Seq(Row(1L, "view", 1.0), Row(2L, "teleport", null))) // bad type + null value
    val got = AuditQueries.expectations.build(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got(("orders.o_orderkey", "not_null")) == ((4L, 1L, false)))
    // null keys are invisible to COUNT(DISTINCT): 4 rows - 2 distinct = 2
    assert(got(("orders.o_orderkey", "unique")) == ((4L, 2L, false)))
    assert(got(("orders.o_totalprice", "range[0,1000000]")) == ((4L, 1L, false)))
    assert(got(("orders.o_orderpriority", "accepted_values")) == ((4L, 1L, false)))
    assert(got(("customer.c_mktsegment", "accepted_values")) == ((2L, 1L, false)))
    assert(got(("lineitem.(l_orderkey,l_linenumber)", "unique")) == ((3L, 1L, false)))
    assert(got(("lineitem.l_quantity", "range[1,50]")) == ((3L, 1L, false)))
    assert(got(("lineitem.l_discount", "range[0,1]")) == ((3L, 1L, false)))
    assert(got(("events.event_type", "accepted_values")) == ((2L, 1L, false)))
    assert(got(("events.value", "not_null")) == ((2L, 1L, false)))
  }

  test("expectations on real testdata: report catches the known dup-key breach") {
    val got = AuditQueries.expectations.build(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(got.size == 10, "all ten contract rules evaluated")
    // the synthetic lineitem genuinely duplicates (l_orderkey, l_linenumber)
    val (v, passed) = got(("lineitem.(l_orderkey,l_linenumber)", "unique"))
    assert(v > 0 && !passed, "the report CATCHES the real composite-key breach")
    assert(got(("orders.o_orderkey", "unique")) == ((0L, true)))
    assert(got(("events.event_type", "accepted_values")) == ((0L, true)))
  }

  test("expectations on empty tables: the composite-key rule counts 0 and passes") {
    val d = Files.createTempDirectory("graft-exp-empty").toString
    for (n <- Seq("orders", "customer", "lineitem", "events"))
      spark.read.parquet(s"$sf/$n.parquet").limit(0).write.parquet(s"$d/$n.parquet")
    val got = AuditQueries.expectations.build(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.size == 10)
    val uq = got(("lineitem.(l_orderkey,l_linenumber)", "unique"))
    assert(!uq.isNullAt(3) && uq.getLong(3) == 0L, uq)
    assert(!uq.isNullAt(4) && uq.getBoolean(4), uq)
  }

  test("k-anonymity: risk shrinks up the generalization ladder") {
    val d = Files.createTempDirectory("graft-kanon").toString
    writeTable(d, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      // (1, BUILDING, band0) x6 — safe at every level
      (1 to 6).map(i => Row(i.toLong, 1, 500.0, "BUILDING")) ++
      // (1, BUILDING, band2) x2 — at risk at level 0, merges safe at level 1
      Seq(Row(7L, 1, 2500.0, "BUILDING"), Row(8L, 1, 2500.0, "BUILDING")) ++
      // MACHINERY splits 3 + 2 across nations: at risk until nation drops
      Seq(Row(9L, 2, 500.0, "MACHINERY"), Row(10L, 2, 500.0, "MACHINERY"),
        Row(11L, 2, 500.0, "MACHINERY"),
        Row(12L, 3, 500.0, "MACHINERY"), Row(13L, 3, 500.0, "MACHINERY")))
    val got = AuditQueries.kAnonymity.build(spark, d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    assert(got(0L) == ((4L, 13L, 2L, 7L, false)), "full QI: 7 rows linkable")
    assert(got(1L) == ((3L, 13L, 2L, 5L, false)), "band dropped: bal pair merges")
    assert(got(2L) == ((2L, 13L, 5L, 0L, true)), "segment-only IS 5-anonymous")
  }

  test("dp counts: noise equals the md5 inverse-CDF ladder, release >= 0") {
    import graft.queries.EventQueries
    val got = EventQueries.dpCounts.build(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4)))
    def md5h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val cdfNum = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L,
      256L, 320L, 352L, 368L, 376L, 380L, 382L, 383L)
    val ths = cdfNum.map(n => n * 4294967296L / 384L)
    def draw(u: Long): Long = ths.indexWhere(u < _) match {
      case -1 => 8L; case k => k.toLong - 8L
    }
    assert(got.nonEmpty)
    got.foreach { case (tpe, day, n, noise, noisy) =>
      assert(noise == draw(md5h32(s"dp:$tpe:$day")), s"$tpe/$day noise draw")
      assert(noisy == math.max(n + noise, 0L), s"$tpe/$day post-processing")
      assert(math.abs(noise) <= 8)
    }
    assert(got.exists(_._4 != 0L), "the mechanism actually perturbs")
  }

  test("audits run end-to-end on real testdata: star schema is orphan-free") {
    val fk = AuditQueries.fkIntegrity.build(spark, sf).collect()
    assert(fk.length == 4)
    assert(fk.forall(_.getLong(2) == 0L), "driver testdata has no FK orphans")
    assert(AuditQueries.orderReconcile.build(spark, sf).count() > 0)
    val ab = AuditQueries.abLift.build(spark, sf).collect().head
    assert(ab.getLong(0) > 0 && ab.getLong(2) > 0, "both arms populated")
  }

  test("l-diversity: homogeneous class flagged at fine QI, cured by generalizing") {
    val d = Files.createTempDirectory("graft-ldiv").toString
    val dt = java.sql.Date.valueOf(_: String)
    writeTable(d, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType))),
      Seq(
        // class (O, Jan): 3 distinct priorities -> diverse
        Row(1L, "O", dt("2024-01-05"), "1-URGENT"),
        Row(2L, "O", dt("2024-01-09"), "2-HIGH"),
        Row(3L, "O", dt("2024-01-20"), "3-MEDIUM"),
        // class (O, Feb): uniform priority -> homogeneity attack, 2 rows at risk
        Row(4L, "O", dt("2024-02-02"), "1-URGENT"),
        Row(5L, "O", dt("2024-02-14"), "1-URGENT"),
        // class (F, Jan): only 2 distinct -> below l = 3, 3 rows at risk
        Row(6L, "F", dt("2024-01-03"), "2-HIGH"),
        Row(7L, "F", dt("2024-01-04"), "2-HIGH"),
        Row(8L, "F", dt("2024-01-11"), "5-LOW")))
    val got = graft.queries.AuditQueries.lDiversity.build(spark, d).collect()
      .map(r => r.getAs[Long]("level") ->
        (r.getAs[Long]("n_classes"), r.getAs[Long]("min_distinct"),
          r.getAs[Long]("classes_below_l"), r.getAs[Long]("rows_at_risk"),
          r.getAs[Boolean]("l_diverse"))).toMap
    assert(got(0L) == ((3L, 1L, 2L, 5L, false)))
    // generalized to status alone: O has 3 distinct, F still only 2
    assert(got(1L) == ((2L, 2L, 1L, 3L, false)))
  }
}
