package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-surface throughput bench: the batch families have measured
  * scale posture (SCALING.json); this main measures the STREAMING twins at
  * the same stress volume — the stateful processors (funnel and session on
  * `transformWithState` over the RocksDB state store, the shapes whose
  * per-key state must hold up at volume) plus the stateless curation gate
  * and the per-bucket sequence packer — and writes one STREAMBENCH.json
  * line with wall time and rows/s per query.
  *
  * Method: the scale probe's replicated events (200x = 20M rows),
  * documents (40x = 200k docs — the gate and packer are per-row CPU-bound,
  * enough rows to dominate fixed cost without re-reading 1M docs twice)
  * and embeddings (500x = 1M vectors, the stress-block volume, streamed
  * against the bounded benchmark side of q_semantic_decontaminate)
  * are materialized once as parquet, then each streaming query reads them
  * through a file source with `maxFilesPerTrigger` forcing MULTIPLE
  * micro-batches (state genuinely crosses batch boundaries — a single
  * mega-batch would never touch the cross-batch state path; the per-source
  * cap additionally measures the admit-and-count state machine whose whole
  * point is surviving those boundaries), runs with
  * `Trigger.AvailableNow` into a noop sink on a fresh checkpoint, and is
  * timed to termination. Throughput = input rows / wall seconds. This is a
  * single-node number for SHAPE comparison (streaming vs batch overhead,
  * state-store cost per key), not a cluster projection — state scales out
  * with shuffle partitions, and each partition's RocksDB instance holds
  * only its keys' state.
  */
object StreamBench {

  private val EvRepl = 200 // 20M events — matches SCALING.json's stress block
  private val DocRepl = 40 // 200k docs through the per-row streaming ops
  private val EmbRepl = 500 // 1M vectors — matches the stress embeddings block
  private val CustRepl = 10 // 150k customers through the per-block ER state

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cores
    val work = "target/streambench"
    val spark = Session(cpus)
    import spark.implicits._

    // materialize the stream inputs once, through the same replicators the
    // scale probe uses (disjoint users/ids per replica) — events via
    // Tables.t so ts is a real timestamp column the StreamEvent encoder
    // accepts
    ScaleProbe.scaledEvents(spark, sfDir, EvRepl)
      .write.mode("overwrite").parquet(s"$work/raw/events.parquet")
    val events = engine.Tables.t(spark, s"$work/raw", "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    events.write.mode("overwrite").parquet(s"$work/events")
    val nEvents = spark.read.parquet(s"$work/events").count()
    ScaleProbe.scaledDocuments(spark, sfDir, DocRepl)
      .select(col("doc_id"), col("text"), col("source"))
      .write.mode("overwrite").parquet(s"$work/docs")
    val nDocs = spark.read.parquet(s"$work/docs").count()
    ScaleProbe.scaledEmbeddings(spark, sfDir, EmbRepl)
      .select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$work/vecs")
    val nVecs = spark.read.parquet(s"$work/vecs").count()
    // the bounded benchmark side comes from the BASE table, exactly as the
    // batch query selects it — replication grows only the streamed corpus
    ScaleProbe.scaledStar(spark, sfDir, CustRepl).toMap.apply("customer")
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_mktsegment"), col("c_acctbal").cast("double").as("c_acctbal"))
      .write.mode("overwrite").parquet(s"$work/custs")
    val nCusts = spark.read.parquet(s"$work/custs").count()
    val bench = engine.Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 97 === 0 && col("vec_id") < 1000)
      .select(col("vec_id").as("bid"),
        functions.Vectors.asDouble(col("embedding")).as("qv"))

    def src(path: String): DataFrame = {
      val schema = spark.read.parquet(path).schema
      // ~4 micro-batches over the cpus-partition write: state must survive
      // batch boundaries, or this measures nothing the specs don't
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", math.max(1, cpus / 4))
        .parquet(path)
    }

    // fresh checkpoint root per invocation: reusing a completed
    // AvailableNow checkpoint would see no new data and terminate in
    // milliseconds, silently benchmarking nothing
    val cpRoot = java.nio.file.Files
      .createTempDirectory("graft-streambench-cp").toString

    def run(name: String, rows: Long, mode: String = "append")(
        build: DataFrame => DataFrame): (String, String) = {
      val in = if (name == "funnel" || name == "session_tws" ||
          name == "session_traj" || name == "hll_registers" ||
          name == "hll_group_regs" ||
          name == "bloom_words" || name == "cms_registers" ||
          name == "transitions" || name == "anomaly" ||
          name == "user_lifetimes" ||
          name == "ohlc" || name == "streaks" ||
          name == "pit_lookup" || name == "concurrency" ||
          name == "scd2_apply" || name == "bitmap_registers" ||
          name == "ks_registers" || name == "daily_mv") s"$work/events"
        else if (name == "semantic_hits") s"$work/vecs"
        else if (name == "golden_records") s"$work/custs"
        else s"$work/docs"
      val t0 = System.nanoTime()
      val q = build(src(in)).writeStream
        .format("noop")
        .outputMode(mode)
        .option("checkpointLocation", s"$cpRoot/$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val rps = rows / wall
      System.err.println(
        f"[stream] $name%-16s rows=$rows%d wall=$wall%7.2fs rows/s=$rps%11.0f batches>=$batches%d")
      (name, f""""$name":{"rows":$rows,"wall_s":$wall%.2f,"rows_per_s":${rps.toLong}}""")
    }

    val results = Seq(
      run("funnel", nEvents)(df =>
        streaming.Streams.funnelStages(df.as[streaming.StreamEvent]).toDF()),
      run("session_tws", nEvents)(df =>
        streaming.Streams.sessionizeTws(df.as[streaming.StreamEvent],
          gapMs = 30L * 60 * 1000).toDF()),
      run("session_traj", nEvents)(df =>
        streaming.Streams.sessionTrajectories(
          df.select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")).as[streaming.TrajEvent],
          gapMs = 30L * 60 * 1000).toDF()),
      run("hll_registers", nEvents, mode = "complete")(df =>
        streaming.Streams.hllRegisters(df, "user_id")),
      run("hll_group_regs", nEvents, mode = "complete")(df =>
        streaming.Streams.hllGroupRegisters(df, "event_type", "user_id")),
      run("bloom_words", nEvents, mode = "complete")(df =>
        streaming.Streams.bloomWords(df, "user_id")),
      run("cms_registers", nEvents, mode = "complete")(df =>
        streaming.Streams.cmsRegisters(df, "user_id")),
      run("bitmap_registers", nEvents, mode = "complete")(df =>
        streaming.Streams.bitmapRegisters(df, "event_type", "user_id")),
      run("ks_registers", nEvents, mode = "complete") { df =>
        // frozen epoch cut, computed batch-side exactly as q_ks_drift does
        val mm = spark.read.parquet(s"$work/events")
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        streaming.Streams.ksRegisters(df, mm.getLong(0) + mm.getLong(1))
      },
      run("transitions", nEvents)(df =>
        streaming.Streams.eventTransitions(
          df.select(col("event_id"), col("user_id"), col("ts"),
            col("event_type")).as[streaming.TransEvent]).toDF()),
      run("user_lifetimes", nEvents)(df =>
        streaming.Streams.userLifetimes(
          df.select(col("event_id"), col("user_id"), col("ts"),
            col("event_type")).as[streaming.TransEvent]).toDF()),
      run("anomaly", nEvents)(df =>
        streaming.Streams.anomalyFlags(
          df.select(col("event_id"), col("user_id"), col("ts"),
            col("value")).as[streaming.AnomEvent]).toDF()),
      run("ohlc", nEvents)(df => streaming.Streams.ohlcBars(df)),
      run("daily_mv", nEvents, mode = "complete")(df =>
        streaming.Streams.dailyMvState(df)),
      run("streaks", nEvents)(df =>
        streaming.Streams.activityStreaks(
          df.select(col("user_id"), col("ts")).as[streaming.DayEvent]).toDF()),
      run("pit_lookup", nEvents)(df =>
        streaming.Streams.pitLookup(
          df.select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value")).as[streaming.PitInput]).toDF()),
      // chained stateful pair: per-user session closer -> per-hour count
      run("concurrency", nEvents, mode = "update")(df =>
        streaming.Streams.sessionConcurrency(
          df.select(col("user_id"), col("ts"), col("event_id"))
            .as[streaming.ConcInput])),
      run("scd2_apply", nEvents)(df =>
        streaming.Streams.scd2Apply(
          df.filter(col("event_type").isin("signup", "purchase", "error"))
            .select(col("user_id"), col("event_id"), col("ts"), col("value"),
              when(col("event_type") === "error", "delete")
                .otherwise("upsert").as("op"))
            .as[streaming.Scd2Input]).toDF()),
      run("hist_registers", nDocs, mode = "complete")(df =>
        streaming.Streams.histRegisters(
          df.select(col("source"),
            functions.Text.tokenCount(col("text")).as("nt")),
          "source", "nt")),
      run("curation_gate", nDocs)(df => streaming.Streams.curationGate(df)),
      run("pack_shards", nDocs)(df => streaming.Streams.packShards(df).toDF()),
      run("source_cap", nDocs)(df =>
        streaming.Streams.sourceCap(df, cap = 20).toDF()),
      run("chunk_docs", nDocs)(df => streaming.Streams.chunkDocs(df)),
      run("pii_scrub", nDocs)(df => streaming.Streams.piiScrub(df)),
      run("winnow", nDocs)(df => streaming.Streams.winnowFingerprints(df)),
      run("semantic_hits", nVecs)(df =>
        streaming.Streams.semanticHits(
          df.select(col("vec_id"),
            functions.Vectors.asDouble(col("embedding")).as("v")),
          bench)),
      // incremental entity resolution: per-block union-find state; the
      // replicated customers are verbatim name-twins, so this measures the
      // heavy direction (blocks filling toward the 256 df-cut)
      run("golden_records", nCusts)(df =>
        streaming.Streams.goldenRecords(
          df.as[streaming.CustArrival]).toDF()))

    val json = s"""{"sf":"$sfDir","events":$nEvents,"docs":$nDocs,""" +
      s""""ev_replication":$EvRepl,"doc_replication":$DocRepl,""" +
      s""""vectors":$nVecs,"emb_replication":$EmbRepl,""" +
      results.map(_._2).mkString(""""queries":{""", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get("STREAMBENCH.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
