package graft

import org.apache.spark.sql.functions._
import graft.functions.Sketch

/** Pins the HLL small-range (linear-counting) correction in BOTH regimes
  * (VERDICT r9 item 2): crafted cardinalities on either side of the
  * 5/2*m threshold, plus table-shape invariants for the exact-decimal
  * ln(m/V) literal table that makes the libm-free correction possible. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  /** Estimates for n distinct synthetic keys through the shared Sketch
    * column tower (the exact pipeline q_hll_distinct runs). */
  private def estimates(n: Int): (Double, Double, Long) = {
    val regs = (1 to n).toDF("k")
      .select(Sketch.hllHash(col("k")).as("hv"))
      .select(Sketch.hllBucket(col("hv")).as("bucket"),
        Sketch.hllRank(col("hv")).as("r"))
      .groupBy("bucket").agg(max(col("r")).as("m"))
    val row = regs.agg(count(lit(1)).as("n_buckets"),
        sum(Sketch.hllInv(col("m"))).as("s"))
      .select(
        Sketch.hllEstimate(col("s"), col("n_buckets")).as("raw"),
        Sketch.hllCorrected(
          Sketch.hllEstimate(col("s"), col("n_buckets")),
          lit(Sketch.HllBuckets) - col("n_buckets")).as("corrected"),
        (lit(Sketch.HllBuckets) - col("n_buckets")).as("zero_buckets"))
      .as[(Double, Double, Long)].head()
    row
  }

  test("ln-table shape: 256 exact-decimal entries, strictly decreasing to 0") {
    assert(Sketch.HllLinearStrings.length == Sketch.HllBuckets)
    val ds = Sketch.HllLinearStrings.map(_.toDouble)
    // exact round-trip: the string IS the double it was printed from
    ds.zipWithIndex.foreach { case (d, i) =>
      val want = Sketch.HllBuckets * math.log(Sketch.HllBuckets.toDouble / (i + 1))
      assert(d == want, s"entry ${i + 1} not bit-identical")
    }
    assert(ds.last == 0.0, "V = m (all registers empty) must estimate 0")
    assert(ds.zip(ds.tail).forall { case (a, b) => a > b },
      "m*ln(m/V) must strictly decrease in V")
  }

  test("small regime: correction fires and strictly improves the estimate") {
    val n = 300 // well inside the 5/2*m = 640 small range
    val (raw, corrected, zeroBuckets) = estimates(n)
    assert(zeroBuckets > 0, "crafted cardinality must leave empty registers")
    assert(raw <= Sketch.HllSmallRangeMax,
      s"raw $raw must be in the small range for this cardinality")
    assert(corrected != raw, "correction must have fired")
    val errRaw = math.abs(raw - n) / n
    val errCorr = math.abs(corrected - n) / n
    assert(errCorr < errRaw,
      s"linear counting must beat raw here: corr $errCorr vs raw $errRaw")
    // deterministic hash draw at n=300 lands at 11.9% — inside 3 sigma of
    // the ~5.5% linear-counting standard error at this fill ratio
    assert(errCorr < 0.17, s"linear counting should be tight at n=$n: $errCorr")
  }

  test("large regime: correction is the identity and raw error is in band") {
    val n = 50000 // e^{-n/m} ~ 0: every register occupied w.h.p.
    val (raw, corrected, zeroBuckets) = estimates(n)
    assert(zeroBuckets == 0, s"at n=$n all registers should be occupied")
    assert(corrected == raw, "with zero empty registers the branch is identity")
    val err = math.abs(raw - n) / n
    // 3 sigma of the 1.04/sqrt(256) = 6.5% standard error
    assert(err < 0.20, s"raw estimate out of band at n=$n: $err")
  }

  test("histogram sketch: bucket/hi invariants over a domain sweep") {
    // values spanning the exact region, octave boundaries, and large
    // magnitudes up to the 2^53 domain edge
    val vs = ((0L to 300L) ++
      (8 to 52).flatMap(e => Seq((1L << e) - 1, 1L << e, (1L << e) + 1)) ++
      Seq((1L << 53) - 1, 999999937L, 1234567890123L)).distinct
    val rows = vs.toDF("v")
      .select(col("v"), Sketch.histBucket(col("v")).as("bucket"))
      .select(col("v"), col("bucket"), Sketch.histHi(col("bucket")).as("hi"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    rows.foreach { case (v, bucket, hi) =>
      assert(v <= hi, s"v=$v above its bucket $bucket upper bound $hi")
      if (v < 256) assert(bucket == v && hi == v, s"exact region broken at $v")
      else assert((hi - v).toDouble / v <= 0.0625,
        s"v=$v err ${(hi - v).toDouble / v} exceeds 6.25% (bucket $bucket hi $hi)")
    }
    // bucket id is monotone in v (quantile extraction depends on it)
    assert(rows.zip(rows.tail).forall { case ((v1, b1, _), (v2, b2, _)) =>
      v1 > v2 || b1 <= b2 }, "bucket must be monotone in value")
    // bounded state: the whole domain maps into <= 976 distinct buckets
    assert(rows.map(_._2).distinct.length <= 976)
  }

  test("histogram sketch: approx quantiles track exact within the 6.25% bound") {
    val rows = graft.queries.CorpusQueries.quantileSketch.build(spark, sf)
      .select("lang", "sketch_buckets", "p50_err", "p90_err", "p99_err")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (lang, buckets, e50, e90, e99) =>
      assert(buckets <= 976, s"$lang: unbounded sketch state?")
      // hi-side representative + integer-rank vs interpolated exact: the
      // bucket bound (6.25%) plus one inter-value interpolation step
      Seq("p50" -> e50, "p90" -> e90, "p99" -> e99).foreach { case (p, e) =>
        assert(e <= 0.0725, s"$lang $p err $e exceeds the sketch bound")
      }
    }
  }

  test("count-min: one-sided guarantee est >= exact on a collision-heavy key set") {
    // 2000 keys into 4 x 512 cells forces collisions; the estimate may only
    // OVER-count (a key's own increments land in every cell it probes)
    val keyed = (1 to 2000).map(i => (i.toString, (i % 7 + 1).toLong))
      .toDF("k", "cnt")
    val probes = keyed
      .select(col("k"), col("cnt"), Sketch.cmsCells(col("k")).as("p"))
      .select(col("k"), col("cnt"), col("p.r").as("r"), col("p.cell").as("cell"))
    val cells = probes.groupBy("r", "cell").agg(sum("cnt").as("cs"))
    assert(cells.count() <= Sketch.CmsRows * Sketch.CmsWidth,
      "counter bank must stay within the fixed 2048-cell geometry")
    val est = probes.join(cells, Seq("r", "cell"))
      .groupBy("k").agg(min("cnt").as("exact"), min("cs").as("est"))
      .as[(String, Long, Long)].collect()
    assert(est.length == 2000)
    est.foreach { case (k, exact, e) =>
      assert(e >= exact, s"key $k UNDER-estimated: $e < $exact") }
    assert(est.exists { case (_, exact, e) => e > exact },
      "2000 keys in 2048 cells must collide somewhere — crafted set degenerate")
    // heavy-hitter corollary: no threshold pass can miss a true heavy key
    val thr = 7L
    val missed = est.filter { case (_, exact, e) => exact >= thr && e < thr }
    assert(missed.isEmpty, s"false-negative heavy keys: ${missed.take(3).toSeq}")
  }

  test("count-min: gate query grades clean (overestimate >= 0, no false-negative heavy)") {
    val rows = graft.queries.EventQueries.cmsHeavy.build(spark, sf)
      .select("overestimate", "cms_heavy", "actual_heavy")
      .as[(Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty, "threshold selects nobody — gate data degenerate")
    rows.foreach { case (over, cmsH, actH) =>
      assert(over >= 0, "CMS may only over-count")
      assert(!actH || cmsH, "an actually-heavy key must pass the CMS cut")
    }
  }

  test("kmv: exact below k, within 2 sigma above it") {
    def kmvOf(n: Int): (Long, Double) = {
      val f = (1 to n).toDF("k")
        .select(graft.functions.Text.md5Hash32(
          concat(lit("kmv:"), col("k").cast("string"))).as("hv"))
        .distinct().orderBy("hv").limit(64)
        .agg(count(lit(1)).as("n_seen"), max(col("hv")).as("kth"))
      f.select(col("n_seen"),
          when(col("n_seen") < 64, col("n_seen").cast("double"))
            .otherwise(lit(63.0 * 4294967296.0) / col("kth")))
        .as[(Long, Double)].head()
    }
    val (seen40, est40) = kmvOf(40)
    assert(seen40 == 40 && est40 == 40.0,
      s"below k the sketch IS the exact count: $seen40 / $est40")
    // k = 64 -> relative std err ~ 1/sqrt(k-2) ~ 12.7%; these crafted
    // domains measured 5.6% and 14.3% (deterministic hashes — the assert
    // pins the measured values inside a 2-sigma envelope forever)
    Seq(5000, 20000).foreach { n =>
      val (_, est) = kmvOf(n)
      assert(math.abs(est - n) / n < 0.26, s"n=$n est=$est outside 2 sigma")
    }
  }

  test("gate regime: sf0.001 events (15 users) — corrected column reads right") {
    val row = graft.queries.EventQueries.hllDistinct.build(spark, sf)
      .select("zero_buckets", "hll_corrected", "exact_distinct",
        "rel_err", "rel_err_corrected")
      .as[(Long, Double, Long, Double, Double)].head()
    val (zb, corrected, exact, relErr, relErrCorr) = row
    assert(zb > 0, "gate data sits in the small range by construction")
    assert(relErrCorr <= relErr,
      s"corrected must not be worse on gate data: $relErrCorr vs $relErr")
    assert(math.abs(corrected - exact) / exact < 0.10,
      s"corrected estimate $corrected vs exact $exact out of tolerance")
  }

  test("cms join-size estimate is one-sided and close on real data") {
    val row = graft.queries.EventQueries.cmsJoinSize.build(spark, sf)
      .collect().head
    val exact = row.getAs[Long]("true_size")
    val est = row.getAs[Long]("cms_estimate")
    assert(exact > 0)
    assert(est >= exact, s"inner-product estimate must upper-bound: $est < $exact")
    // 4x512 bank over ~150 users: collisions inflate by far less than 2x
    assert(est < 2 * exact, s"estimate $est implausibly far from $exact")
  }

  test("cms join-size over an empty events table emits no row, as its oracle") {
    val d = java.nio.file.Files.createTempDirectory("graft-cms-empty").toString
    spark.read.parquet(s"$sf/events.parquet").limit(0)
      .write.parquet(s"$d/events.parquet")
    val rows = graft.queries.EventQueries.cmsJoinSize.build(spark, d).collect()
    assert(rows.isEmpty, rows.mkString(", "))
  }

  test("per-group HLL: registers MERGE to the global sketch (max of maxes)") {
    import graft.functions.Sketch
    import org.apache.spark.sql.functions._
    // the property that makes sketch columns materializable in a rollup
    // table: folding the per-group register frames with max() must yield
    // bit-identical registers to one global build over the union
    val ev = graft.engine.Tables.t(spark, sf, "events")
    val rho = ev.select(col("event_type"), Sketch.hllHash(col("user_id")).as("hv"))
      .select(col("event_type"),
        Sketch.hllBucket(col("hv")).as("bucket"),
        Sketch.hllRank(col("hv")).as("r"))
    val perGroup = rho.groupBy("event_type", "bucket").agg(max(col("r")).as("m"))
    val merged = perGroup.groupBy("bucket").agg(max(col("m")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val global = rho.groupBy("bucket").agg(max(col("r")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged == global, "per-group registers must merge to the global sketch")
  }

  test("per-group HLL: every group's corrected estimate lands in band") {
    val rows = graft.queries.EventQueries.hllByGroup.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (grp, exact) = (r.getString(0), r.getLong(5))
      val relErr = r.getDouble(6)
      // sf0.001 groups hold ~15 users — deep small-range regime, where the
      // linear-counting correction is near-exact (same band as the global
      // gate-regime test)
      assert(relErr < 0.15, s"group $grp: corrected rel_err $relErr out of band")
      assert(exact > 0)
    }
  }
}
