package graft

import org.apache.spark.sql.functions._
import graft.engine.TimeSeries

/** Golden fixtures (FIXTURES.md §B) + seeded property checks (SURVEY §5.2-3)
  * for the W5 position-based interpolation — exact semantics of reference
  * main.py:392-419. */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def interp(xs: Seq[Option[Double]]): Seq[Double] = {
    val df = xs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("pos", "v")
    TimeSeries.interpolateLinear(df, "v", Seq.empty, Seq(col("pos")))
      .orderBy("pos").select("v_interp").as[Double].collect().toSeq
  }

  test("interior gap: position-linear blend") {
    assert(interp(Seq(None, Some(2), None, None, Some(8))) == Seq(0.0, 2.0, 4.0, 6.0, 8.0))
  }
  test("leading null run ramps from the injected 0 anchor") {
    // Reference fills in place: index 0 -> 0, then index 1 interpolates
    // between that 0 and the 3 (main.py:397-416), so [0, 1.5, 3].
    assert(interp(Seq(None, None, Some(3))) == Seq(0.0, 1.5, 3.0))
    assert(interp(Seq(None, None, None, Some(3))) == Seq(0.0, 1.0, 2.0, 3.0))
  }
  test("trailing null run -> carry forward") {
    assert(interp(Seq(Some(5), None, None)) == Seq(5.0, 5.0, 5.0))
  }
  test("stitched lag equals global-window lag across bucket boundaries") {
    // The oracle query's events span a single month, so the cross-bucket
    // stitch path (first row of month N takes month N-1's last value) never
    // runs there — exercise it here over a 3-month daily series with gaps.
    val days = Seq(
      "2024-01-05", "2024-01-17", "2024-01-31", // month bucket 1
      "2024-02-01", "2024-02-29",               // bucket 2: first row stitches
      "2024-03-01",                             // bucket 3: first row stitches
      "2024-05-02")                             // bucket 5: stitches ACROSS empty April
    val df = days.zipWithIndex
      .map { case (d, i) => (java.sql.Date.valueOf(d), (i * i + 1).toDouble) }
      .toDF("day", "total")
    val got = TimeSeries
      .lagDiffStitched(df, col("total"),
        year(col("day")) * 12 + month(col("day")), col("day"), "delta")
      .orderBy("day").select("delta").as[Option[Double]].collect().toSeq
    val want = df
      .withColumn("delta",
        col("total") - lag("total", 1).over(
          org.apache.spark.sql.expressions.Window.orderBy("day")))
      .orderBy("day").select("delta").as[Option[Double]].collect().toSeq
    assert(got == want)
    assert(got.head.isEmpty && got.tail.forall(_.isDefined))
  }

  test("stitched lag == global-window lag: seeded sweep over gaps and nulls") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 10) {
      // random subset of days across 5 months (gap months arise naturally),
      // ~15% null values
      val days = (0 until 150)
        .filter(_ => rnd.nextDouble() < 0.25)
        .map(d => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)))
      val rows = days.map(d =>
        (d, if (rnd.nextDouble() < 0.15) None else Some(rnd.nextInt(1000) / 10.0)))
      if (rows.nonEmpty) {
        val df = rows.toDF("day", "total")
        val got = TimeSeries
          .lagDiffStitched(df, col("total"),
            year(col("day")) * 12 + month(col("day")), col("day"), "delta")
          .orderBy("day").select("delta").as[Option[Double]].collect().toSeq
        val want = df
          .withColumn("delta",
            col("total") - lag("total", 1).over(
              org.apache.spark.sql.expressions.Window.orderBy("day")))
          .orderBy("day").select("delta").as[Option[Double]].collect().toSeq
        assert(got == want, s"trial $trial: $got != $want")
      }
    }
  }

  test("globalRowNumber == global row_number: seeded sweep over bucket shapes") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      // random (bucket, seq) rows: buckets of wildly different sizes,
      // including empty buckets in the id range
      val rows = (0 until 500).map { i =>
        (rnd.nextInt(9) * 2, i) // even buckets 0..16, odd ids absent
      }
      val df = rows.toDF("bucket", "seq")
      val got = TimeSeries
        .globalRowNumber(df, col("bucket"), Seq(col("seq")), "grn")
        .orderBy("bucket", "seq").select("grn").as[Long].collect().toSeq
      val want = df
        .withColumn("grn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("bucket", "seq")).cast("long"))
        .orderBy("bucket", "seq").select("grn").as[Long].collect().toSeq
      assert(got == want, s"trial $trial diverged")
    }
  }

  test("stitched lag preserves null-value semantics mid-bucket") {
    // predecessor VALUE null -> delta null (global LAG semantics); only a
    // bucket's FIRST row stitches from the previous bucket
    val df = Seq(
      ("2024-01-05", Some(5.0)), ("2024-01-17", None), ("2024-01-31", Some(7.0)),
      ("2024-02-02", Some(9.0)))
      .map { case (d, v) => (java.sql.Date.valueOf(d), v) }
      .toDF("day", "total")
    val got = TimeSeries
      .lagDiffStitched(df, col("total"),
        year(col("day")) * 12 + month(col("day")), col("day"), "delta")
      .orderBy("day").select("delta").as[Option[Double]].collect().toSeq
    // deltas: null (first), null (prev=5 but value null -> null - 5? no:
    // delta = value - lag = null - 5 = null), null (7 - null), 2.0 (9 - 7)
    assert(got == Seq(None, None, None, Some(2.0)), s"got $got")
  }

  test("all-null -> zeros") {
    assert(interp(Seq(None, None)) == Seq(0.0, 0.0))
  }

  test("properties: fixed point on null-free; never-null; pass-through; monotone") {
    val rnd = new scala.util.Random(42)
    // Strict sequential port of the reference (main.py:392-419) including its
    // in-place fill: earlier filled values are visible to the backward scan.
    def strictPort(xs: Seq[Option[Double]]): Seq[Double] = {
      val n = xs.length
      val s = xs.toArray
      for (i <- 0 until n) if (s(i).isEmpty) {
        if (i == 0) s(i) = Some(0.0)
        else {
          val j = (i - 1 to 0 by -1).find(s(_).isDefined)
          j match {
            case None => s(i) = Some(0.0)
            case Some(a) =>
              val k = (i + 1 until n).find(s(_).isDefined)
              s(i) = k match {
                case Some(b) =>
                  Some(s(a).get + (s(b).get - s(a).get) * ((i - a).toDouble / (b - a).toDouble))
                case None => s(a)
              }
          }
        }
      }
      s.map(_.get).toSeq
    }
    // Closed-form oracle: same anchors as the strict port (original non-nulls
    // plus the injected 0 at index 0) but one direct blend per null instead of
    // the sequential one-step recurrence. Identical in exact arithmetic; the
    // engine (and its DuckDB oracle) use this form, which can differ from the
    // strict port by IEEE754 rounding in the last couple of ulps on interior
    // runs — a documented, bounded deviation.
    def closedForm(xs: Seq[Option[Double]]): Seq[Double] = {
      val n = xs.length
      val e = xs.zipWithIndex.map { case (v, i) => if (i == 0) v.orElse(Some(0.0)) else v }
      (0 until n).map { i =>
        xs(i).getOrElse {
          if (i == 0) 0.0
          else {
            val a = (i - 1 to 0 by -1).find(e(_).isDefined).get
            (i + 1 until n).find(xs(_).isDefined) match {
              case Some(b) =>
                e(a).get + (xs(b).get - e(a).get) * ((i - a).toDouble / (b - a).toDouble)
              case None => e(a).get
            }
          }
        }
      }
    }
    for (_ <- 1 to 25) {
      val n = 1 + rnd.nextInt(20)
      val xs = Seq.fill(n)(if (rnd.nextBoolean()) Some(rnd.nextDouble() * 100) else None)
      val got = interp(xs)
      assert(got == closedForm(xs), s"input $xs")
      got.lazyZip(strictPort(xs)).foreach { (g, p) =>
        assert(math.abs(g - p) <= 1e-12 * math.max(1.0, math.abs(p)), s"input $xs")
      }
      assert(got.forall(v => !v.isNaN))
      xs.zip(got).collect { case (Some(v), o) => assert(o == v) }
    }
    // null-free fixed point
    val clean = Seq.fill(10)(Some(rnd.nextDouble() * 1000))
    assert(interp(clean) == clean.map(_.get))
  }

  test("lagDiff: first row null, rest are deltas") {
    // W1 through lagDiffStitched: buckets pos DIV 2 = 0, 1, 1, so row 2 is
    // its bucket's first row (stitched from bucket 0) and row 3 lags locally
    val df = Seq((1, 10.0), (2, 13.0), (3, 11.5)).toDF("pos", "x")
    val out = TimeSeries.lagDiffStitched(df, col("x"), expr("pos DIV 2"), col("pos"), "d")
      .orderBy("pos").select("d").collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(None, Some(3.0), Some(-1.5)))
  }

  test("cumSum: exact running total (decimal-backed)") {
    val df = Seq((1, 1.1), (2, 2.2), (3, 3.3)).toDF("pos", "x")
    val out = df.withColumn("c", TimeSeries.cumSum(col("x"), Seq.empty, Seq(col("pos"))))
      .orderBy("pos").select("c").as[Double].collect().toSeq
    assert(out == Seq(1.1, 3.3, 6.6))
  }

  test("tailSlice keeps exactly the last n per partition") {
    val df = (1 to 10).map(i => (i % 2, i)).toDF("k", "pos")
    val out = TimeSeries.tailSlice(df, 2, Seq("k"), Seq(desc("pos")))
      .orderBy("k", "pos").as[(Int, Int)].collect().toSeq
    assert(out == Seq((0, 8), (0, 10), (1, 7), (1, 9)))
  }

  test("empty-partition windows accept a desc SortOrder as first order key") {
    // boundedGlobal anchors the constant partition key on the first order
    // column; a desc(...) Column wraps a SortOrder, which must be unwrapped
    // before the cast or analysis fails
    val df = (1 to 6).map(i => (i, i * 1.0)).toDF("pos", "x")
    val out = TimeSeries.tailSlice(df, 3, Seq.empty, Seq(desc("pos")))
      .orderBy("pos").as[(Int, Double)].collect().toSeq
    assert(out == Seq((4, 4.0), (5, 5.0), (6, 6.0)))
  }
}
