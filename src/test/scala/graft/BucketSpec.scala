package graft

import org.apache.spark.sql.functions._
import graft.engine.{Sinks, Tables}

/** Co-located join via bucketed tables: same key, same bucket count on both
  * sides -> the join plans with no shuffle exchange and produces the same
  * rows as the plain shuffled join. */
class BucketSpec extends SparkSpec {

  test("bucketed join is shuffle-free and answer-identical") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val orders = Tables.t(spark, sf, "orders")
      val customer = Tables.t(spark, sf, "customer")
      Sinks.writeBucketed(orders, "orders_b", 8, Seq("o_custkey"))
      Sinks.writeBucketed(customer, "customer_b", 8, Seq("c_custkey"))
      def isShuffleFree(df: org.apache.spark.sql.DataFrame) =
        !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

      val plainJoin = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      val bucketedJoin = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))

      assert(!isShuffleFree(
        plainJoin.queryExecution.sparkSession.table("orders_b")
          .join(customer, col("o_custkey") === col("c_custkey"))),
        "half-bucketed join must still shuffle the plain side")
      assert(isShuffleFree(
        spark.table("orders_b")
          .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))),
        "bucketed-bucketed join must plan without exchanges")

      val a = plainJoin.orderBy("c_mktsegment").collect().toSeq
      val b = bucketedJoin.orderBy("c_mktsegment").collect().toSeq
      assert(a == b)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
