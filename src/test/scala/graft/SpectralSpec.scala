package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.queries.SpectralQueries

/** Exact fixtures for the power-iteration queries: a rank-1 embedding
  * corpus whose leading direction is known in closed form, and a crafted
  * two-state chain replayed against a BigInt reference fold. */
class SpectralSpec extends SparkSpec {

  test("pca power: rank-1 corpus converges to the exact direction") {
    val d = Files.createTempDirectory("graft-spec").toString
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    // v_k = k * (0.001, 0.002, 0.003, 0.004): milli-quantization is exact
    // (q_k = k * (1,2,3,4)), so the Gram is exactly rank-1: G = 385 m mT
    val rows = (1 to 10).map { k =>
      Row(k.toLong, Array(0.001f * k, 0.002f * k, 0.003f * k, 0.004f * k),
        0)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val r = SpectralQueries.pcaPower.build(spark, d).collect()
    assert(r.map(_.getAs[Long]("i")).toSeq == Seq(1L, 2L, 3L, 4L))
    // a rank-1 matrix converges in one round: v = m * 1e6 / max(m)
    assert(r.map(_.getAs[Long]("v_ppm")).toSeq ==
      Seq(250000L, 500000L, 750000L, 1000000L))
    // lambda = (sum k^2) * (m . m) = 385 * 30, exact through the Rayleigh
    // quotient because vT G v / vT v divides without remainder here
    assert(r.map(_.getAs[Long]("lambda")).toSet == Set(11550L))
  }

  test("pca power on an empty embeddings table returns no row") {
    val d = Files.createTempDirectory("graft-pca-empty").toString
    spark.read.parquet(s"$sf/embeddings.parquet").limit(0)
      .write.parquet(s"$d/embeddings.parquet")
    val r = SpectralQueries.pcaPower.build(spark, d).collect()
    assert(r.isEmpty, r.mkString(", "))
  }

  test("markov stationary: matches a BigInt replay of the ppm recurrence") {
    val d = Files.createTempDirectory("graft-spec-mk").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // one user walking A A B A A B A: P(A) = [1/2, 1/2], P(B -> A) = 1
    val seq = Seq("view", "view", "click", "view", "view", "click", "view")
    val rows = seq.zipWithIndex.map { case (ty, i) =>
      Row(i.toLong, 1L, Timestamp.from(base.plusSeconds(i * 60L)), ty, 1.0,
        "{}")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val r = SpectralQueries.markovStationary.build(spark, d).collect()
      .map(x => x.getString(0) ->
        (x.getAs[Long]("n_out"), x.getAs[Long]("pi0_ppm"),
          x.getAs[Long]("pi8_ppm"))).toMap
    assert(r.keySet == Set("view", "click"))
    assert(r("view")._1 == 4L && r("click")._1 == 2L)
    assert(r("view")._2 == 500000L && r("click")._2 == 500000L)
    // replay the declared recurrence exactly: P in ppm by truncation,
    // pi'_b = (sum_a pi_a * P_ab) div 1e6
    val p = Map(("view", "view") -> 500000L, ("view", "click") -> 500000L,
      ("click", "view") -> 1000000L)
    var pi = Map("view" -> 500000L, "click" -> 500000L)
    for (_ <- 1 to 8)
      pi = pi.keys.map { b =>
        b -> pi.keys.flatMap(a => p.get((a, b)).map(_ * pi(a))).sum / 1000000L
      }.toMap
    assert(r("view")._3 == pi("view"))
    assert(r("click")._3 == pi("click"))
    // the chain pulls toward (2/3, 1/3)
    assert(math.abs(pi("view") - 666666L) < 30000L)
  }
}
