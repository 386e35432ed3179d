package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.ProfileQueries

class ProfileSpec extends SparkSpec {

  test("table profile matches independently computed statistics") {
    val rows = ProfileQueries.tableProfile.build(spark, sf).collect()
    assert(rows.length == 7)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val n = li.count()
    assert(rows.forall(_.getAs[Long]("n_rows") == n))
    val byCol = rows.map(r => r.getAs[String]("col_name") -> r).toMap
    val ok = byCol("l_orderkey")
    assert(ok.getAs[Long]("n_nulls") == 0)
    assert(ok.getAs[Long]("n_distinct") ==
      li.select(countDistinct(col("l_orderkey"))).head().getLong(0))
    assert(ok.getAs[Double]("min_num") ==
      li.agg(min(col("l_orderkey"))).head().getLong(0).toDouble)
    val rf = byCol("l_returnflag")
    assert(rf.getAs[String]("min_str") == "A" && rf.getAs[String]("max_str") == "R")
    assert(rf.isNullAt(rf.fieldIndex("min_num")))
    val sd = byCol("l_shipdate")
    assert(sd.getAs[Timestamp]("min_ts") != null)
  }

  test("table profile of an empty lineitem counts zero rows, not NULL") {
    val d = Files.createTempDirectory("graft-profile-empty").toString
    spark.read.parquet(s"$sf/lineitem.parquet").limit(0)
      .write.parquet(s"$d/lineitem.parquet")
    val rows = ProfileQueries.tableProfile.build(spark, d).collect()
    assert(rows.length == 7)
    for (c <- Seq("n_rows", "n_nulls", "n_distinct"))
      assert(rows.forall(r => !r.isNullAt(r.fieldIndex(c)) && r.getAs[Long](c) == 0L),
        s"$c: ${rows.mkString(", ")}")
  }

  test("z-order serves a multi-dim workload better than a 1-D sort") {
    // sf0.01: the suppkey domain at sf0.001 is too small (<= 10) for the
    // oracle's sx box to select anything.
    val dir = "/root/testdata/sf0.01"
    val b = ProfileQueries.zorderLayout.build(spark, dir).collect()
    val total = b.map(_.getAs[Long]("n_rows")).sum
    val matching = b.map(_.getAs[Long]("matching_rows")).sum
    val zTouched2D = b.filter(_.getAs[Boolean]("touched"))
      .map(_.getAs[Long]("n_rows")).sum
    // every matching row lives in a touched bucket (no false skip)
    assert(b.forall(r =>
      r.getAs[Boolean]("touched") || r.getAs[Long]("matching_rows") == 0))
    assert(matching > 0 && zTouched2D < total)

    // A single layout must serve MANY query shapes: grade each layout's
    // bucket envelopes against a px-selective box AND an sx-selective
    // box. A px-sorted layout wins the px box but must read EVERY bucket
    // for the sx box; the Morton tiling bounds both.
    case class Env(n: Long, minPx: Long, maxPx: Long, minSx: Long, maxSx: Long)
    def touched(envs: Seq[Env], pxLo: Long, pxHi: Long, sxLo: Long, sxHi: Long) =
      envs.filter(e => e.minPx <= pxHi && e.maxPx >= pxLo &&
        e.minSx <= sxHi && e.maxSx >= sxLo).map(_.n).sum
    val zEnvs = b.toSeq.map(r => Env(r.getAs[Long]("n_rows"),
      r.getAs[Long]("min_px"), r.getAs[Long]("max_px"),
      r.getAs[Long]("min_sx"), r.getAs[Long]("max_sx")))
    val nb = b.length
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").as("px"), col("l_suppkey").as("sx"))
    val oneDEnvs = li.withColumn("bucket", ntile(nb).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("px"), col("sx"))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("px").as("min_px"), max("px").as("max_px"),
        min("sx").as("min_sx"), max("sx").as("max_sx"))
      .collect().toSeq.map(r => Env(r.getAs[Long]("n_rows"),
        r.getAs[Long]("min_px"), r.getAs[Long]("max_px"),
        r.getAs[Long]("min_sx"), r.getAs[Long]("max_sx")))
    val zWork = touched(zEnvs, 100, 160, 0, 1000000) +
      touched(zEnvs, 0, 1000000, 30, 90)
    val oneDWork = touched(oneDEnvs, 100, 160, 0, 1000000) +
      touched(oneDEnvs, 0, 1000000, 30, 90)
    assert(zWork < oneDWork,
      s"z-order read $zWork rows across the workload, 1-D read $oneDWork")
  }

  test("anomaly z-score flags a planted spike and not the stable tail") {
    val d = Files.createTempDirectory("graft-anom").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // user 1: eight steady 10.00 readings then a 100.00 spike (flagged,
    // variance 0 -> any deviation trips) then more steady readings whose
    // windows CONTAIN the spike (high variance, not flagged).
    val vals = Seq.fill(8)(10.0) ++ Seq(100.0) ++ Seq.fill(4)(10.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, 1L, Timestamp.from(base.plusSeconds(60L * i)), "view", v, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val flagged = ProfileQueries.anomalyZscore.build(spark, d).collect()
    assert(flagged.map(_.getAs[Long]("event_id")).toSeq == Seq(8L),
      s"expected only the spike, got ${flagged.toSeq}")
    // hand-check the integer inequality at the spike: n=8, x=10000,
    // s1=8*1000, s2=8*1000^2 -> dev2=(80000-8000)^2, thresh=0
    val f = flagged.head
    assert(f.getAs[Long]("dev2_scaled") == 72000L * 72000L)
    assert(f.getAs[Long]("thresh_scaled") == 0L)
  }

  test("drift chisq: a total distribution shift scores the 2e6 maximum") {
    val d = Files.createTempDirectory("graft-drift").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // first half all 10.0 (bucket 0), second half all 100.0 (bucket 4):
    // p1 = 1e6 in bucket 0, p2 = 1e6 in bucket 4 -> chisq 2,000,000 ppm
    val rows = (0 until 20).map { i =>
      val v = if (i < 10) 10.0 else 100.0
      Row(i.toLong, 1L, Timestamp.from(base.plusSeconds(3600L * i)), "view", v, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val r = ProfileQueries.driftChisq.build(spark, d).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("chisq_ppm") == 2000000L)
    assert(r.head.getAs[Long]("n_buckets") == 2L)
  }

  test("source HHI: crafted 50/30/20 split scores exactly 380000 ppm") {
    val d = Files.createTempDirectory("graft-hhi").toString
    val rows = (0 until 100).map { i =>
      val src = if (i < 50) "a" else if (i < 80) "b" else "c"
      Row(i.toLong, s"doc $i", "en", src, 10L)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = ProfileQueries.sourceHhi.build(spark, d).collect().head
    assert(r.getAs[Long]("n_sources") == 3)
    // 0.5^2 + 0.3^2 + 0.2^2 = 0.38
    assert(r.getAs[Long]("hhi_ppm") == 380000L)
    assert(r.getAs[Long]("top_share_ppm") == 500000L)
  }

  test("skyline: dominated rows drop, ties and incomparable rows survive") {
    val d = Files.createTempDirectory("graft-skyline").toString
    val schema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_brand", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
    val parts = Seq(
      // brand A: (80,3)x2 duplicates — both survive (neither dominates);
      // (90,5) and (120,9) incomparable frontier; (100,5) + dup dominated
      // by (90,5) via strictly-cheaper-equal-size
      Row(1L, "A", 3, 80.0), Row(2L, "A", 3, 80.0),
      Row(3L, "A", 5, 90.0), Row(4L, "A", 9, 120.0),
      Row(5L, "A", 5, 100.0), Row(6L, "A", 5, 100.0),
      // (90,4): same price as the size-5 row — dominated within the tie
      Row(7L, "A", 4, 90.0),
      // brand B is its own group: a row brand A would dominate survives
      Row(8L, "B", 1, 500.0))
    spark.createDataFrame(spark.sparkContext.parallelize(parts, 2), schema)
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    val got = ProfileQueries.skyline.build(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq("A" -> 1L, "A" -> 2L, "A" -> 3L, "A" -> 4L, "B" -> 8L))
  }

  test("anomaly rate on real testdata is small and nonzero") {
    val n = ProfileQueries.anomalyZscore.build(spark, sf).count()
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(n > 0 && n < total / 10)
  }

  test("ks drift: statistic equals a naive single-threaded recomputation") {
    val got = ProfileQueries.ksDrift.build(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Long]("ks_ppm"),
          r.getAs[Boolean]("drifted"))).toMap
    // naive mirror of the quantized two-sample KS, straight off the parquet
    val ev = graft.engine.Tables.t(spark, sf, "events")
      .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val lo = ev.map(_._3).min
    val hi = ev.map(_._3).max
    val byType = ev.groupBy(_._1)
    assert(got.keySet == byType.keySet)
    for ((tpe, rows) <- byType) {
      val buckets = rows.map { case (_, v, us) =>
        val b = math.min(math.round(v * 100) / 200, 255L)
        val e = if (us * 2 < lo + hi) 0 else 1
        (b, e)
      }
      val n1 = buckets.count(_._2 == 0).toLong
      val n2 = buckets.count(_._2 == 1).toLong
      var c1 = 0L; var c2 = 0L; var ks = 0L
      for (b <- buckets.map(_._1).distinct.sorted) {
        c1 += buckets.count(x => x._1 == b && x._2 == 0)
        c2 += buckets.count(x => x._1 == b && x._2 == 1)
        val gap = math.abs(c1 * 1000000L / n1 - c2 * 1000000L / n2)
        if (gap > ks) ks = gap
      }
      val (gn1, gn2, gks, gdrift) = got(tpe)
      assert((gn1, gn2, gks) == (n1, n2, ks), s"$tpe: got $got")
      val thresh = 1358000.0 * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2.toDouble))
      assert(gdrift == (ks.toDouble > thresh))
    }
  }

  test("bootstrap ci: equals the in-memory multiplier-bootstrap recompute") {
    val got = ProfileQueries.bootstrapCi.build(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    def md5h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val ths = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L)
    def wt(h: Long): Long = ths.indexWhere(h <= _) match {
      case -1 => 6L; case k => k.toLong
    }
    val ev = graft.engine.Tables.t(spark, sf, "events")
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
    for ((tpe, rows) <- ev.groupBy(_._1)) {
      val n = rows.length.toLong
      val mean = rows.map(_._3).sum.toDouble / n.toDouble
      val bmeans = (0 until 16).map { b =>
        val ws = rows.map(r => (wt(md5h32(s"bs:$b:${r._2}")), r._3))
        (ws.map(x => x._1 * x._2).sum.toDouble /
          math.max(ws.map(_._1).sum, 1L).toDouble, b)
      }.sortBy(identity)
      val (gn, gmean, glo, ghi) = got(tpe)
      assert(gn == n && gmean == mean, tpe)
      assert(glo == bmeans(1)._1 && ghi == bmeans(14)._1, tpe)
      assert(glo <= ghi)
    }
  }

  test("gini: ppm score equals the naive closed form; bounds hold") {
    val rows = ProfileQueries.giniByType.build(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    for (r <- rows) {
      val tpe = r.getAs[String]("event_type")
      val spends = ev.filter(_._1 == tpe)
        .groupBy(_._2)
        .map { case (u, xs) =>
          (u, xs.map(x => math.max(math.round(x._3 * 100), 0L)).sum)
        }
        .toSeq.sortBy(x => (x._2, x._1)).map(_._2)
      val n = spends.size.toLong
      val s = spends.sum
      val t = spends.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      // numerator-first wide-integer ppm (the query's DECIMAL(38,0) tree)
      val gini = ((2 * BigInt(t) - BigInt(n + 1) * BigInt(s)) * 1000000 /
        (BigInt(n) * BigInt(s)).max(BigInt(1))).toLong
      assert(r.getAs[Long]("n_users") == n)
      assert(r.getAs[Long]("total_cents") == s)
      assert(r.getAs[Long]("gini_ppm") == gini, s"$tpe")
      // Gini of a nonnegative distribution lives in [0, 1)
      assert(gini >= 0 && gini < 1000000L)
    }
  }
}
