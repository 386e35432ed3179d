package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every main and the
  * test suite get their session here, so query semantics (time zone,
  * float division, timestamp decoding, codegen kernels, state store) do
  * not depend on how a query is launched. */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor of the JVM. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core. */
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ANSI off: x/0 is NULL, not a DIVIDE_BY_ZERO error; quirk Q9's
      // pandas semantics (x/0 -> inf, 0/0 -> NaN) come only from Det.pdiv
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // transformWithState requires RocksDB; the other stateful operators run on it too
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // room for every generated class of all 217 queries (3375 in one
      // sf0.01 Verify pass) so a query run again compiles nothing; the
      // default 100 entries are evicted within one dashboard pass
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
