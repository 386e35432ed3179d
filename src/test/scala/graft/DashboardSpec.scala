package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.engine.{Covid, Dashboard, Sir, Wrangle}

/** §2.12 dashboard surface: every page entry point serves its frames, and
  * the K7/K8 trajectory matches a driver-side recomputation (quirk Q10:
  * global series, per-country population only). The fit-test, global and
  * counties pages run on in-test tables with the Covid schemas. */
class DashboardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dayWise = Covid.dayWise(spark).cache()
  private val nlPop = 17134872.0
  private lazy val worldometer: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("Netherlands", "Europe", nlPop, 50000.0, 6000.0, 100.0, 44000.0))),
    Covid.worldometerSchema)

  test("overview: filtered series + tiles") {
    val (series, tiles) = Dashboard.overview(dayWise, worldometer,
      "2020-03-01", "2020-05-01")
    assert(series.count() == 62)
    assert(tiles == ((50000.0, 6000.0, 100.0)))
  }

  test("K7/K8 R0 trajectory matches driver recomputation (quirk Q10)") {
    val got = Dashboard.r0Trajectory(dayWise, worldometer, "Netherlands")
      .as[(java.sql.Date, Double)].collect().toSeq
    assert(got.size == 187) // first row skipped (diff)
    val raw = dayWise.orderBy("Date")
      .select($"Active".cast("double"), $"Recovered".cast("double"),
        $"Deaths".cast("double"))
      .as[(Double, Double, Double)].collect()
    val gamma = 1.0 / 4.5
    val want = (1 until raw.length).map { t =>
      val (i, r, d) = (raw(t)._1 / nlPop, raw(t)._2 / nlPop, raw(t)._3 / nlPop)
      val dd = d - raw(t - 1)._3 / nlPop
      val di = i - raw(t - 1)._1 / nlPop
      val sT = 1.0 - (i + r + d)
      val mu = dd / i
      ((di / i + mu + gamma) / sT) / gamma
    }
    got.map(_._2).lazyZip(want).foreach { (g, w) =>
      assert(math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w)), s"$g vs $w")
    }
  }

  test("sirComparison serves all three parameter sets") {
    (1 to 3).foreach { ps =>
      val (sim, mse) = Dashboard.sirComparison(dayWise, ps)
      assert(sim.length == 188)
      assert(Seq(mse._1, mse._2, mse._3, mse._4).forall(m => m > 0 && !m.isNaN))
    }
    // out-of-range selector fails descriptively, not with a MatchError
    val e = intercept[IllegalArgumentException](Dashboard.sirComparison(dayWise, 0))
    assert(e.getMessage.contains("paramSet"))
  }

  test("countryAnalysis maps USA to US") {
    val wrangled = Seq(
      ("US", java.sql.Date.valueOf("2020-03-02"), 10.0, 5.0, 3.0, 2.0),
      ("NL", java.sql.Date.valueOf("2020-03-02"), 1.0, 1.0, 0.0, 0.0))
      .toDF("country", "Date", "Confirmed", "Active", "Deaths", "Recovered")
    val usWm = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("US", "North America", 331000000.0, 1.0, 1.0, 1.0, 1.0))),
      Covid.worldometerSchema)
    val (fractions, series) = Dashboard.countryAnalysis(
      dayWise, usWm, wrangled, "USA", "2020-03-01", "2020-03-05")
    assert(series.count() == 1)
    assert(fractions.count() == 5)
  }

  private def frame(schema: org.apache.spark.sql.types.StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  test("sirFitTest: parameters from one country, simulation from the other's tail") {
    def day(country: String, date: String, c: Double, a: Double, d: Double, r: Double) =
      Row(null, country, 0.0, 0.0, java.sql.Date.valueOf(date), c, d, r, a, "Europe")
    // rows out of date order: the page must order each series by Date
    val complete = frame(Covid.completeSchema,
      day("A", "2020-03-03", 30, 21, 3, 6), day("A", "2020-03-01", 10, 8, 1, 1),
      day("A", "2020-03-02", 20, 15, 2, 3),
      day("B", "2020-03-04", 15, 10, 2, 3), day("B", "2020-03-01", 5, 5, 0, 0),
      day("B", "2020-03-03", 12, 9, 1, 2), day("B", "2020-03-02", 8, 6, 1, 1))
    val wrangled = Wrangle.processComplete(
      complete.withColumnRenamed("Country.Region", "country"), "country", "Date")
    val got = Dashboard.sirFitTest(wrangled, "A", "B", Map("A" -> 1000.0, "B" -> 500.0))
    // A's two day-over-day steps, in fitTest's operation order
    val gamma = 1.0 / 4.5
    val alpha = Vector((gamma * 15 - 2) / 2.0, (gamma * 21 - 3) / 3.0)
    val mu = Vector(1.0 / 15, 1.0 / 21)
    val beta = Vector((7.0 / 15 + mu(0) + gamma) / 980, (6.0 / 21 + mu(1) + gamma) / 970)
    // B's trailing 3 days: simulation starts from 2020-03-02 (I 6, D 1, R 1)
    val finals = Sir.simulateTimeVarying(alpha, beta, mu, gamma,
      500.0 - 6 - 1 - 1, 6, 1, 1, 500.0, 2).last
    assert(got == Sir.FitResult(2, alpha, beta, mu, finals))
  }

  test("globalInsights: mean death rate per continent, blank continent renamed") {
    val wm = frame(Covid.worldometerSchema,
      Row("Netherlands", "Europe", 1.0, 50000.0, 6000.0, 0.0, 0.0),
      Row("Belgium", "Europe", 1.0, 40000.0, 8000.0, 0.0, 0.0),
      Row("Mystery", "", 1.0, 10.0, 1.0, 0.0, 0.0))
    val got = Dashboard.globalInsights(wm).as[(String, Double)].collect().toSeq
    assert(got == Seq(("Antartica", 0.1), ("Europe", (0.12 + 0.2) / 2)))
  }

  test("countiesAnalysis: top counties by deaths and by cases, one county's series") {
    val uc = frame(Covid.usaCountySchema,
      Row("Hudson", "New Jersey", "1/23/20", 9L, 2L),
      Row("Hudson", "Texas", "1/22/20", 5L, 1L),
      Row("Bergen", "New Jersey", "1/22/20", 50L, 8L),
      Row("Kings", "New York", "1/23/20", 70L, 3L))
    val (byDeaths, byCases, series) = Dashboard.countiesAnalysis(uc, "Hudson")
    def top(df: DataFrame) = df.as[(String, Long, Long)].collect().toSeq
    assert(top(byDeaths) ==
      Seq(("Bergen", 8L, 50L), ("Hudson", 3L, 14L), ("Kings", 3L, 70L)))
    assert(top(byCases) ==
      Seq(("Kings", 3L, 70L), ("Bergen", 8L, 50L), ("Hudson", 3L, 14L)))
    assert(series.as[(java.sql.Date, Long, Long)].collect().toSeq == Seq(
      (java.sql.Date.valueOf("2020-01-22"), 5L, 1L),
      (java.sql.Date.valueOf("2020-01-23"), 9L, 2L)))
  }
}
