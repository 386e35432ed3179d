package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog over the driver's parquet testdata (TESTDATA.md) and the
  * reference's covid CSVs.
  *
  * The reference loads its tables by enumerating a SQLite catalog and
  * `SELECT *`-ing each table into a dict (reference main.py:225-233). Here the
  * catalog is the parquet directory and each query scans its tables lazily
  * through [[t]] (nothing is materialized until a query runs, unlike the
  * reference's eager full-table loads).
  */
object Tables {

  /** Lazy parquet scan for one table. Column pruning + predicate pushdown
    * reach the scan because this is a plain file-source relation.
    *
    * `events.ts` has shipped in TWO physical shapes across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * surfaces as a nanosecond long under the legacy conf — convert with
    * exact integer arithmetic, `div 1000`; a double division would lose
    * precision above 2^53 ns) and parquet timestamp[us] (which Spark reads
    * natively as TIMESTAMP_NTZ). We branch on the footer schema rather than
    * hard-coding either: the footer read costs one file-listing + metadata
    * fetch, no data scan. Both branches land on session-zoned TimestampType
    * (session tz is UTC everywhere in this engine), so downstream queries
    * and `window()` see one type regardless of the file's vintage.
    */
  /** The one session conf the testdata needs. Our entry points (Verify,
    * Bench, test sessions) set it at session build; this fallback covers a
    * driver-constructed session. Guarded so an already-configured session is
    * never mutated mid-query (the value is a constant either way). */
  def ensureNanosConf(spark: SparkSession): Unit =
    if (!spark.conf.getOption(NanosKey).contains("true"))
      spark.conf.set(NanosKey, "true")

  val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      ensureNanosConf(spark)
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => // TimestampType / TimestampNTZType: NTZ→TZ cast reads the
          // wall-clock value in the session tz (UTC), matching the nanos
          // path's micros-since-epoch-as-UTC-instant semantics exactly.
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a NARROW frame across the session's full parallelism before a
    * compute-dense per-row kernel (md5 MinHash signatures, shingle/gram
    * in-row expansions, multi-distinct Expand passes). A small input — one
    * parquet row group, a dimension-sized table — scans as 1-3 partitions,
    * and every stage fused onto that scan then runs at that width no
    * matter how many cores the session has (guide §2.5 input skew: fix at
    * the source or repartition right after the read; measured here: the
    * 2-task md5 signature stage was >60% of every dedup-family query).
    * The exchange ships the RAW rows once — a narrow payload, cheap
    * relative to the kernel it unlocks — and hashes on caller-supplied
    * key columns (deterministic under retries, unlike rand-derived keys;
    * unique ids give far more distinct values than partitions, so the
    * hash spreads evenly). Width = defaultParallelism, which tracks the
    * session's actual core budget (local[N] → N, a cluster → total
    * executor cores) — scale-adaptive, never a constant tuned to one
    * machine. At 100 TB a fact-table scan is already thousands of
    * partitions wide and this exchange is pure overhead — so it belongs
    * ONLY in front of kernels whose input is small relative to the
    * compute they fan out (signature/expansion stages), which is where
    * the engine applies it. */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    require(keys.nonEmpty, "spread needs deterministic hash keys")
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
  }

  /** JSON-lines scan with an ENFORCED schema (pass an existing table's
    * `.schema`): inferring it would cost a full extra pass over the data (a
    * non-starter at scale) and can silently widen types between runs;
    * FAILFAST surfaces corrupt rows instead of nulling them. */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)
}
