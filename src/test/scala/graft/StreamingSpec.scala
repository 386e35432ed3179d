package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{StreamEvent, Streams, TrajEvent}

/** MemoryStream-driven checks for the Structured Streaming surface:
  * watermarked window emission, cross-batch custom state, and session
  * closure — and batch/streaming unification of the same transform. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(user: Long, minute: Int, tpe: String = "click", v: Double = 1.0) =
    StreamEvent(user, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), tpe, v)

  test("semanticHits: streamed copies flag against their bench source, clean vector silent") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.functions.Vectors
    val bench = graft.engine.Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 97 === 0 && col("vec_id") < 1000)
      .select(col("vec_id").as("bid"), Vectors.asDouble(col("embedding")).as("qv"))
    val (b0, b0v) = bench.as[(Long, Seq[Double])].orderBy("bid").head()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = Streams.semanticHits(in.toDF().toDF("vec_id", "v"), bench)
      .writeStream.format("memory").queryName("semhits").outputMode("append")
      .start()
    try {
      in.addData(
        (9001L, b0v),                 // verbatim copy of the first bench vector
        (9002L, b0v.map(_ * 3.0)),    // scaled copy — cosine is scale-invariant
        (9003L, b0v.indices.map(i => if (i % 2 == 0) 1.0 else -1.0)))  // unrelated
      q.processAllAvailable()
      val hits = spark.table("semhits").select("vec_id", "bid", "cos")
        .as[(Long, Long, Double)].collect()
      for (id <- Seq(9001L, 9002L)) {
        val h = hits.filter(_._1 == id)
        assert(h.length == 1 && h.head._2 == b0 && h.head._3 >= 0.999,
          s"copy $id must hit exactly its bench source, got ${h.toSeq}")
      }
      assert(!hits.exists(_._1 == 9003L), "unrelated vector must emit no hits")
    } finally q.stop()
  }

  test("curationGate: stateless stream verdicts match the shared batch gates") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.curationGate(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curation").outputMode("append").start()
    try {
      in.addData(
        (1L, "x y z"),                                            // too_short
        (2L, Seq.fill(25)("r").mkString(" ")),                    // repetitive
        (3L, (1 to 12).flatMap(i => Seq("spark", s"u$i")).mkString(" ")), // blocklisted
        (4L, (1 to 24).map(i => s"w$i").mkString(" ")))           // keep
      q.processAllAvailable()
      val got = spark.table("curation").select("doc_id", "verdict")
        .as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "too_short", 2L -> "repetitive",
        3L -> "blocklisted", 4L -> "keep"), s"got $got")
    } finally q.stop()
  }

  test("piiScrub: stateless stream redaction through the shared patterns") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.piiScrub(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii").outputMode("append").start()
    try {
      in.addData(
        (1L, "mail me at bob@example.com"),
        (2L, "call 555-123-4567 today"),
        (3L, "nothing sensitive"))
      q.processAllAvailable()
      val got = spark.table("pii")
        .as[(Long, Long, Long, String, String)].collect().sortBy(_._1)
      assert(got(0) == ((1L, 1L, 0L, "mail me at [EMAIL]", "redacted")))
      assert(got(1) == ((2L, 0L, 1L, "call [PHONE] today", "redacted")))
      assert(got(2) == ((3L, 0L, 0L, "nothing sensitive", "clean")))
    } finally q.stop()
  }

  test("sessionTrajectories: streamed closed sessions bit-match the batch query") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, unix_micros}
    // batch truth: every session's trajectory from the declared query
    val batch = graft.queries.EventQueries.sessionTrajectories.build(spark, sf)
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events"), col("trajectory"))
      .as[(Long, Long, Long, String)].collect().toSeq
    // the stream can only emit CLOSED sessions: batch rows minus each
    // user's LAST session (still open when the stream drains)
    val wantClosed = batch.groupBy(_._1).values
      .flatMap(rs => rs.sortBy(_._2).dropRight(1)).toSet
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy("ts", "event_id")
      .as[TrajEvent].collect()
    val (b1, b2) = events.splitAt(events.length / 2)
    val in = MemoryStream[TrajEvent]
    val q = Streams.sessionTrajectories(in.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("traj").outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("traj")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(streamed == wantClosed,
        s"diff: ${(streamed diff wantClosed).take(3)} vs ${(wantClosed diff streamed).take(3)}")
      assert(streamed.nonEmpty, "no closed sessions streamed — test data degenerate")
    } finally q.stop()
  }

  test("hllRegisters: streamed registers and estimate bit-match the batch query") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batchRow = graft.queries.EventQueries.hllDistinct.build(spark, sf)
      .select("n_buckets", "harmonic_sum", "hll_estimate", "hll_corrected")
      .as[(Long, Double, Double, Double)].head()
    val users = graft.engine.Tables.t(spark, sf, "events")
      .select(col("user_id")).as[Long].collect()
    val (b1, b2) = users.splitAt(users.length / 2)
    val in = MemoryStream[Long]
    val q = Streams.hllRegisters(in.toDF().withColumnRenamed("value", "user_id"), "user_id")
      .writeStream.format("memory").queryName("hllregs")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      val mid = Streams.hllEstimateOf(spark.table("hllregs"))
        .as[(Double, Double)].head()._1
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val regs = spark.table("hllregs")
      val n = regs.count()
      val (est, cest) = Streams.hllEstimateOf(regs).as[(Double, Double)].head()
      assert(n == batchRow._1, "occupied register count must match batch")
      assert(est == batchRow._3, s"streamed estimate $est != batch ${batchRow._3}")
      assert(cest == batchRow._4,
        s"streamed corrected estimate $cest != batch ${batchRow._4}")
      // monotone registers: the mid-stream estimate cannot exceed the final
      assert(mid <= est, "register max is monotone, estimate must not regress")
    } finally q.stop()
  }

  test("hllGroupRegisters: per-group streamed registers bit-match q_hll_by_group") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import graft.functions.Sketch
    val batch = graft.queries.EventQueries.hllByGroup.build(spark, sf)
      .select("event_type", "n_buckets", "hll_estimate", "hll_corrected")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val pairs = graft.engine.Tables.t(spark, sf, "events")
      .select(col("event_type"), col("user_id")).as[(String, Long)].collect()
    val (b1, b2) = pairs.splitAt(pairs.length / 2)
    val in = MemoryStream[(String, Long)]
    val q = Streams.hllGroupRegisters(
        in.toDF().toDF("event_type", "user_id"), "event_type", "user_id")
      .writeStream.format("memory").queryName("hllgregs")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val est = Sketch.hllEstimate(col("s"), col("n_buckets"))
      val streamed = spark.table("hllgregs")
        .groupBy("g")
        .agg(count(lit(1)).as("n_buckets"), sum(Sketch.hllInv(col("m"))).as("s"))
        .select(col("g"), col("n_buckets"), est.as("e"),
          Sketch.hllCorrected(est, lit(Sketch.HllBuckets) - col("n_buckets")).as("c"))
        .as[(String, Long, Double, Double)].collect().sortBy(_._1).toSeq
      assert(streamed == batch,
        s"per-group streamed estimates $streamed != batch $batch")
    } finally q.stop()
  }

  test("ksRegisters: streamed drift registers reproduce q_ks_drift exactly") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, max, min, unix_micros}
    val batch = graft.queries.ProfileQueries.ksDrift.build(spark, sf)
      .as[(String, Long, Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val ev = graft.engine.Tables.t(spark, sf, "events")
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val cut = mm.getLong(0) + mm.getLong(1) // the batch query's lo + hi
    val rows = ev.select(col("event_type"), col("value"), col("ts"))
      .as[(String, Double, java.sql.Timestamp)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(String, Double, java.sql.Timestamp)]
    val q = Streams.ksRegisters(in.toDF().toDF("event_type", "value", "ts"), cut)
      .writeStream.format("memory").queryName("ksregs")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = Streams.ksOf(spark.table("ksregs"))
        .as[(String, Long, Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
      assert(streamed == batch,
        s"streamed KS $streamed != batch $batch")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("ksRegisters: an event type with no rows in one epoch reads the same streamed and batch") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, max, min, unix_micros}
    val all = graft.engine.Tables.t(spark, sf, "events")
    val mm0 = all.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    // drop every click of the second epoch: clicks then have n2 = 0
    val d = java.nio.file.Files.createTempDirectory("graft-ks-empty-epoch").toString
    all.filter(!(col("event_type") === "click" &&
        unix_micros(col("ts")) * 2 >= mm0.getLong(0) + mm0.getLong(1)))
      .write.parquet(s"$d/events.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val batch = rows(graft.queries.ProfileQueries.ksDrift.build(spark, d))
    assert(batch.exists(r => r.head == "click" && r(2) == 0L), s"$batch")
    val ev = graft.engine.Tables.t(spark, d, "events")
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val in = MemoryStream[(String, Double, java.sql.Timestamp)]
    val q = Streams.ksRegisters(in.toDF().toDF("event_type", "value", "ts"),
        mm.getLong(0) + mm.getLong(1))
      .writeStream.format("memory").queryName("ksregs_empty_epoch")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(ev.select(col("event_type"), col("value"), col("ts"))
        .as[(String, Double, java.sql.Timestamp)].collect().toIndexedSeq)
      q.processAllAvailable()
      val streamed = rows(Streams.ksOf(spark.table("ksregs_empty_epoch")))
      assert(streamed == batch, s"streamed KS $streamed != batch $batch")
    } finally q.stop()
  }

  test("ksRegisters: a value of -2.0 or less lands in bucket 0 streamed and batch alike") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, max, min, unix_micros}
    def at(day: Int, tpe: String, v: Double) =
      (tpe, v, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"))
    // click's first-epoch values are negative: clamped, they share bucket
    // 0 with the second epoch's 0.5s, so the batch KS gap is 0
    val d = java.nio.file.Files.createTempDirectory("graft-ks-negative").toString
    Seq(at(1, "click", -2.5), at(2, "click", -2.0), at(8, "click", 0.5),
      at(9, "click", 0.5), at(1, "view", 3.0), at(9, "view", 5.0))
      .toDF("event_type", "value", "ts").write.parquet(s"$d/events.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val batch = rows(graft.queries.ProfileQueries.ksDrift.build(spark, d))
    assert(batch.exists(r => r.head == "click" && r(3) == 0L), s"$batch")
    val ev = graft.engine.Tables.t(spark, d, "events")
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val in = MemoryStream[(String, Double, java.sql.Timestamp)]
    val q = Streams.ksRegisters(in.toDF().toDF("event_type", "value", "ts"),
        mm.getLong(0) + mm.getLong(1))
      .writeStream.format("memory").queryName("ksregs_negative")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(ev.select(col("event_type"), col("value"), col("ts"))
        .as[(String, Double, java.sql.Timestamp)].collect().toIndexedSeq)
      q.processAllAvailable()
      val streamed = rows(Streams.ksOf(spark.table("ksregs_negative")))
      assert(streamed == batch, s"streamed KS $streamed != batch $batch")
    } finally q.stop()
  }

  test("bitmapRegisters: streamed audience words bit-match the batch build") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr, bit_or}
    val events = graft.engine.Tables.t(spark, sf, "events")
    // batch words exactly as q_bitmap_overlap packs them (the DISTINCT is
    // unnecessary under BIT_OR — idempotence absorbs duplicates)
    val batch = events
      .groupBy(col("event_type").as("seg"), expr("user_id DIV 64").as("word_idx"))
      .agg(bit_or(graft.functions.Sketch.bloomMask(col("user_id"))).as("w"))
      .as[(String, Long, Long)].collect().toSet
    val rows = events.select(col("event_type"), col("user_id"))
      .as[(String, Long)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(String, Long)]
    val q = Streams.bitmapRegisters(
        in.toDF().toDF("event_type", "user_id"), "event_type", "user_id")
      .writeStream.format("memory").queryName("bmregs")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("bmregs")
        .as[(String, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed diff batch).take(3)}, " +
          s"batch-only: ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("cmsRegisters: streamed counter bank bit-matches the batch build") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val events = graft.engine.Tables.t(spark, sf, "events")
    val users = events.select(col("user_id")).as[Long].collect()
    val (b1, b2) = users.splitAt(users.length / 2)
    val in = MemoryStream[Long]
    val q = Streams.cmsRegisters(in.toDF().withColumnRenamed("value", "user_id"), "user_id")
      .writeStream.format("memory").queryName("cmsregs")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      val midTotal = spark.table("cmsregs")
        .agg(org.apache.spark.sql.functions.sum("cs")).as[Long].head()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val regs = spark.table("cmsregs")
      assert(regs.count() <= graft.functions.Sketch.CmsRows * graft.functions.Sketch.CmsWidth,
        "state must stay bounded BY THE SKETCH")
      val streamed = regs.as[(Int, Long, Long)].collect().toSet
      val batch = Streams.cmsRegisters(events.select(col("user_id")), "user_id")
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"diff: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
      // counters only grow across micro-batches
      assert(midTotal <= streamed.toSeq.map(_._3).sum)
      // estimates read off the streamed bank keep the one-sided guarantee
      val est = Streams.cmsEstimateOf(regs, events.select(col("user_id")).distinct(), "user_id")
        .withColumnRenamed("k", "user_id")
        .join(events.groupBy("user_id").count(), Seq("user_id"))
        .as[(Long, Long, Long)].collect()
      assert(est.nonEmpty)
      est.foreach { case (u, e, exact) =>
        assert(e >= exact, s"user $u under-estimated: $e < $exact") }
    } finally q.stop()
  }

  test("sessionTrajectories: late in-span event lowers the open session's start") {
    // an out-of-order event arriving in a LATER micro-batch that predates
    // the open session's first-seen event must be absorbed with the
    // earlier start (ADVICE r9: merge takes min of start, max of last)
    implicit val ctx = spark.sqlContext
    def te(minute: Int, id: Long, tpe: String) =
      TrajEvent(42L, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), id, tpe)
    val in = MemoryStream[TrajEvent]
    val q = Streams.sessionTrajectories(in.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("trajoo").outputMode("append").start()
    try {
      in.addData(te(5, 2L, "click"))
      q.processAllAvailable()
      in.addData(te(3, 1L, "view")) // late, predates the open start, in-span
      q.processAllAvailable()
      in.addData(te(30, 3L, "purchase")) // 25-min gap closes the session
      q.processAllAvailable()
      val rows = spark.table("trajoo").as[(Long, Long, Long, String)].collect().toSeq
      val startUs = Timestamp.valueOf("2024-01-01 10:03:00").getTime * 1000L
      assert(rows == Seq((42L, startUs, 2L, "view click")), s"$rows")
    } finally q.stop()
  }

  test("histRegisters: streamed histogram fold bit-matches the batch quantile sketch") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batch = graft.queries.CorpusQueries.quantileSketch.build(spark, sf)
      .select("lang", "p50_approx", "p90_approx", "p99_approx")
      .as[(String, Long, Long, Long)].collect().toSet
    val docs = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("lang"),
        graft.functions.Text.tokenCount(col("text")).cast("long").as("nt"))
      .as[(String, Long)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[(String, Long)]
    val q = Streams.histRegisters(
        in.toDF().withColumnRenamed("_1", "lang").withColumnRenamed("_2", "nt"),
        "lang", "nt")
      .writeStream.format("memory").queryName("histregs")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val regs = spark.table("histregs")
      // bounded state: the sketch admits at most 976 buckets per group
      val maxPerGroup = regs.groupBy("g").count()
        .agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
      assert(maxPerGroup <= 976, s"sketch state exceeded its bound: $maxPerGroup")
      val folded = Streams.histQuantilesOf(regs)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(folded == batch,
        s"diff: ${(folded diff batch).take(3)} vs ${(batch diff folded).take(3)}")
    } finally q.stop()
  }

  test("bloom guarantee: every built key passes its own filter (no false negatives)") {
    // the Bloom contract the pruning join leans on: a key whose bits were
    // OR'd into the words can NEVER read definitely-not. Crafted key sets
    // (negative ids, 0, sparse and dense ranges) through the shared
    // Sketch geometry — the composition bloomBits -> wordIdx/mask ->
    // bit_or -> probe must be lossless for members by construction.
    import org.apache.spark.sql.functions.{bit_or, broadcast, col, count, lit, sum, when}
    import graft.functions.Sketch
    import spark.implicits._
    val keys = (Seq(0L, -1L, Long.MaxValue, Long.MinValue + 1) ++
      (1L to 500L) ++ (1000000L to 1000100L)).toDF("k")
    val bits = keys.select(col("k"), Sketch.bloomBits(col("k")).as("bit"))
      .select(col("k"), Sketch.bloomWordIdx(col("bit")).as("word_idx"),
        Sketch.bloomMask(col("bit")).as("m"))
    val words = bits.groupBy("word_idx").agg(bit_or(col("m")).as("w"))
    val misses = bits
      .join(broadcast(words), Seq("word_idx"), "left")
      .groupBy("k")
      .agg(sum(when(col("w").bitwiseAND(col("m")) =!= 0, 1).otherwise(0)).as("n_hit"),
        count(lit(1)).as("n_bits"))
      .filter(col("n_hit") =!= col("n_bits"))
    assert(misses.count() == 0, misses.collect().take(3).mkString(","))
  }

  test("bloomWords: streamed filter words bit-match the batch build side") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{bit_or, col}
    import graft.functions.Sketch
    val members = graft.engine.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    val batchWords = members
      .select(Sketch.bloomBits(col("user_id")).as("bit"))
      .select(Sketch.bloomWordIdx(col("bit")).as("word_idx"),
        Sketch.bloomMask(col("bit")).as("m"))
      .groupBy("word_idx").agg(bit_or(col("m")).as("w"))
      .as[(Long, Long)].collect().toMap
    val keys = members.as[Long].collect()
    val (b1, b2) = keys.splitAt(keys.length / 2)
    val in = MemoryStream[Long]
    val q = Streams.bloomWords(
        in.toDF().withColumnRenamed("value", "user_id"), "user_id")
      .writeStream.format("memory").queryName("bloomw")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("bloomw").as[(Long, Long)].collect().toMap
      assert(streamed == batchWords,
        s"word diff: ${(streamed.toSet diff batchWords.toSet).take(3)}")
    } finally q.stop()
  }

  test("file source -> parquet sink: checkpointed dedup across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-files")
    val inDir = root.resolve("in")
    val outDir = root.resolve("out").toString
    val cpDir = root.resolve("cp").toString
    java.nio.file.Files.createDirectories(inDir)
    // enforced schema: no inference pass over the files, no widened types
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    def writeBatch(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      import org.apache.spark.sql.functions.col
      val src = spark.readStream.schema(schema).json(inDir.toString)
      // exact dedup on q_dedup_exact's content fingerprint, its state
      // bounded by the watermark
      val q = src.withWatermark("ts", "30 minutes")
        .withColumn("fp", graft.functions.Text.fingerprint(col("text")))
        .dropDuplicatesWithinWatermark("fp")
        .select("doc_id", "text", "fp")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", cpDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeBatch("b1.jsonl", Seq(
      """{"doc_id":1,"ts":"2026-01-01T10:00:00.000Z","text":"hello world"}""",
      """{"doc_id":2,"ts":"2026-01-01T10:01:00.000Z","text":"foo bar"}""",
      """{"doc_id":3,"ts":"2026-01-01T10:02:00.000Z","text":"hello world"}"""))
    runOnce()
    val after1 = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(after1.size == 2 && after1.contains(2L) &&
      (after1.contains(1L) ^ after1.contains(3L)), s"in-batch dedup off: $after1")
    // a NEW file + a NEW query over the SAME checkpoint: the fingerprint
    // state store must survive the restart and suppress the cross-run dup
    writeBatch("b2.jsonl", Seq(
      """{"doc_id":4,"ts":"2026-01-01T10:03:00.000Z","text":"hello world"}""",
      """{"doc_id":5,"ts":"2026-01-01T10:04:00.000Z","text":"unique text"}"""))
    runOnce()
    val after2 = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(after2 == after1 + 5L, s"cross-restart duplicate not suppressed: $after2")
  }

  test("funnelStages: stage state survives a checkpointed query RESTART") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-funnel-files")
    val inDir = root.resolve("in")
    val outDir = root.resolve("out").toString
    val cpDir = root.resolve("cp").toString
    java.nio.file.Files.createDirectories(inDir)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def writeBatch(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).json(inDir.toString)
        .as[StreamEvent]
      val q = Streams.funnelStages(src)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", cpDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeBatch("b1.jsonl", Seq(
      """{"user_id":1,"ts":"2026-01-01T10:00:00.000Z","event_type":"view","value":1.0}""",
      """{"user_id":1,"ts":"2026-01-01T10:01:00.000Z","event_type":"click","value":1.0}"""))
    runOnce()
    // a NEW query over the SAME checkpoint: the (stage=2, anchor) state
    // must survive the restart, so the purchase completes the funnel and
    // the stale click (before the anchor) does nothing
    writeBatch("b2.jsonl", Seq(
      """{"user_id":1,"ts":"2026-01-01T09:59:00.000Z","event_type":"purchase","value":1.0}""",
      """{"user_id":1,"ts":"2026-01-01T10:02:00.000Z","event_type":"purchase","value":1.0}"""))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("user_id", "stage").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (1L, 2L), (1L, 3L)),
      s"restart lost funnel state: $got")
  }

  test("sourceCap: admission counter survives a checkpointed query RESTART") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-cap-files")
    val inDir = root.resolve("in")
    val outDir = root.resolve("out").toString
    val cpDir = root.resolve("cp").toString
    java.nio.file.Files.createDirectories(inDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType)))
    def writeBatch(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).json(inDir.toString)
      val q = Streams.sourceCap(src, cap = 2)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", cpDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeBatch("b1.jsonl", Seq(
      """{"doc_id":1,"source":"a"}""", """{"doc_id":2,"source":"a"}"""))
    runOnce()
    // a NEW query over the SAME checkpoint: source a's counter is full,
    // so both later docs must be dropped
    writeBatch("b2.jsonl", Seq(
      """{"doc_id":3,"source":"a"}""", """{"doc_id":4,"source":"b"}"""))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("doc_id", "source", "rnk")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "a", 1L), (2L, "a", 2L), (4L, "b", 1L)),
      s"restart lost cap state: $got")
  }

  test("sessionizeTws: transformWithState matches the flatMapGroups semantics") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamEvent]
    val gapMs = 10 * 60 * 1000L
    val q = Streams.sessionizeTws(in.toDS(), gapMs)
      .writeStream.format("memory").queryName("sess_tws")
      .outputMode("append").start()
    try {
      in.addData(ev(7, 0, v = 1.0), ev(7, 5, v = 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_tws").count() == 0, "open session must not emit")
      in.addData(ev(7, 30, v = 4.0)) // 25-min gap closes the first session
      q.processAllAvailable()
      val rows = spark.table("sess_tws")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      val start = Timestamp.valueOf("2024-01-01 10:00:00").getTime
      val lastT = Timestamp.valueOf("2024-01-01 10:05:00").getTime
      assert(rows == Seq((7L, start, lastT + gapMs, 2L, 3.0)), s"$rows")
    } finally q.stop()
  }

  test("packShards: streaming assignments match the batch packer bit-for-bit") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the batch truth: the declared query over the sf0.001 corpus
    val batch = graft.queries.TextQueries.packShards.build(spark, sf)
      .select("doc_id", "bucket", "shard", "toks", "cum_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // stream the same docs in doc_id order, split across two micro-batches
    // (per-bucket running state must survive the boundary)
    val docs = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .orderBy("doc_id").as[(Long, String)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[(Long, String)]
    val q = Streams.packShards(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pack").outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("pack")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("chunkDocs: streaming chunks match the batch chunker bit-for-bit") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the batch truth: the declared query over the sf0.001 corpus
    val batch = graft.queries.TextQueries.chunkDocs.build(spark, sf)
      .select("doc_id", "chunk_id", "start_tok", "n_toks", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    // stream the same docs across two micro-batches — stateless, so the
    // split proves nothing ABOUT state; it proves per-arrival chunking
    // composes to the batch answer
    val docs = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .orderBy("doc_id").as[(Long, String)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[(Long, String)]
    val q = Streams.chunkDocs(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks").outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("chunks")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("winnowFingerprints: streaming profiles match the batch query bit-for-bit") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batch = graft.queries.TextQueries.winnowFingerprint.build(spark, sf)
      .select("doc_id", "n_shingles", "n_selected", "fp_min", "fp_sum")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // stateless like chunkDocs: a two-batch split proves per-arrival
    // fingerprinting composes to the batch answer
    val docs = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .orderBy("doc_id").as[(Long, String)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[(Long, String)]
    val q = Streams.winnowFingerprints(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("winnow").outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("winnow")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("sourceCap: per-source admission counter survives micro-batch boundaries") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.sourceCap(in.toDF().toDF("doc_id", "source"), cap = 2)
      .writeStream.format("memory").queryName("srccap").outputMode("append").start()
    try {
      in.addData((1L, "a"), (2L, "a"), (3L, "b"))
      q.processAllAvailable()
      // source a is already full: 4 and 5 must be dropped, b admits one more
      in.addData((4L, "a"), (5L, "a"), (6L, "b"), (7L, "b"))
      q.processAllAvailable()
      val got = spark.table("srccap")
        .as[(Long, String, Long)].collect().toSet
      assert(got == Set((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 1L),
        (6L, "b", 2L)), s"got $got")
    } finally q.stop()
  }

  test("funnelStages: stream transitions reproduce the batch funnel stages") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // batch truth: final stage per user from the declared query
    val batch = graft.queries.EventQueries.eventFunnel.build(spark, sf)
      .select("user_id", "stage").as[(Long, Long)].collect().toMap
    // stream the same events in event-time order, split mid-stream
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"),
        col("value")).orderBy("ts")
      .as[StreamEvent].collect()
    val (b1, b2) = events.splitAt(events.length / 2)
    val in = MemoryStream[StreamEvent]
    val q = Streams.funnelStages(in.toDS())
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("funnel")
        .select("user_id", "stage").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batchReached = batch.filter(_._2 > 0)
      assert(streamed == batchReached,
        s"diff: ${(streamed.toSet diff batchReached.toSet).take(3)} vs " +
          s"${(batchReached.toSet diff streamed.toSet).take(3)}")
    } finally q.stop()
  }

  test("funnelStages: same-millisecond events fold in microsecond order") {
    // view, click, purchase all inside ONE millisecond (100/300/500 us).
    // A millisecond-precision sort would tie and fall back to event_type
    // order (click < purchase < view), miss every transition after the
    // view, and stall the user's funnel state permanently — the ADVICE r6
    // scenario, pinned here against the micros-precision sort.
    implicit val ctx = spark.sqlContext
    val baseMs = Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def at(us: Int): Timestamp = {
      val t = new Timestamp(baseMs); t.setNanos(us * 1000); t
    }
    val in = MemoryStream[StreamEvent]
    val q = Streams.funnelStages(in.toDS())
      .writeStream.format("memory").queryName("funnel_us")
      .outputMode("append").start()
    try {
      in.addData(Seq(
        StreamEvent(1L, at(100), "view", 1.0),
        StreamEvent(1L, at(300), "click", 1.0),
        StreamEvent(1L, at(500), "purchase", 1.0)))
      q.processAllAvailable()
      val stages = spark.table("funnel_us")
        .select("stage").as[Long].collect().toSet
      assert(stages == Set(1L, 2L, 3L), s"got stages $stages")
    } finally q.stop()
  }

  test("anomalyFlags: streamed flags bit-match q_anomaly_zscore across a split") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batch = graft.queries.ProfileQueries.anomalyZscore.build(spark, sf)
      .select("event_id", "n_prev", "dev2_scaled", "thresh_scaled")
      .as[(Long, Long, Long, Long)].collect().toSet
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .orderBy("ts", "event_id")
      .as[graft.streaming.AnomEvent].collect()
    val (b1, b2) = events.splitAt(events.length / 2)
    val in = MemoryStream[graft.streaming.AnomEvent]
    val q = Streams.anomalyFlags(in.toDS())
      .writeStream.format("memory").queryName("anom")
      .outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("anom")
        .select("event_id", "n_prev", "dev2_scaled", "thresh_scaled")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed diff batch).take(3)}, " +
          s"batch-only: ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("pitLookup: streamed PIT rows bit-match q_pit_join across a split") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val batch = graft.queries.LakehouseQueries.pitJoin.build(spark, sf)
      .select("probe_event_id", "version_ts", "state_op", "state_value",
        "has_state")
      .as[(Long, Option[java.sql.Timestamp], Option[String], Option[Double],
        Boolean)].collect().toSet
    // feed in the batch window's exact total order: (ts, change-first,
    // event_id) — the order the PIT state rule is defined over
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"),
        expr("CASE WHEN event_type IN ('signup','purchase','error') THEN 0 ELSE 1 END"),
        col("event_id"))
      .as[graft.streaming.PitInput].collect()
    val (b1, b2) = events.splitAt(events.length / 2)
    val in = MemoryStream[graft.streaming.PitInput]
    val q = Streams.pitLookup(in.toDS())
      .writeStream.format("memory").queryName("pit")
      .outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("pit")
        .select("probe_event_id", "version_ts", "state_op", "state_value",
          "has_state")
        .as[(Long, Option[java.sql.Timestamp], Option[String], Option[Double],
          Boolean)].collect().toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed diff batch).take(3)}, " +
          s"batch-only: ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("activityStreaks: final streamed summaries bit-match q_streak_islands") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batch = graft.queries.SequenceQueries.streakIslands.build(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("user_id"), col("ts"))
      .orderBy("ts")
      .as[graft.streaming.DayEvent].collect()
    // split INSIDE the day range so streaks straddle the batch boundary
    val (b1, b2) = events.splitAt(events.length / 3)
    val in = MemoryStream[graft.streaming.DayEvent]
    val q = Streams.activityStreaks(in.toDS())
      .writeStream.format("memory").queryName("streaks")
      .outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      // active_days strictly increases between a user's emissions: the
      // max row per user is the final summary
      val streamed = spark.table("streaks")
        .as[(Long, Long, Long, Long, Long)].collect()
        .groupBy(_._1)
        .map { case (u, rows) =>
          val last = rows.maxBy(_._4)
          u -> (last._2, last._3, last._4)
        }
      assert(streamed == batch,
        s"mismatched users: ${
          (streamed.toSet diff batch.toSet).take(3)} vs ${
          (batch.toSet diff streamed.toSet).take(3)}")
    } finally q.stop()
  }

  test("eventTransitions: streamed pairs aggregate to the batch counts") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batch = graft.queries.SequenceQueries.eventTransitions
      .build(spark, sf)
      .select("prev", "next", "n").as[(String, String, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .orderBy("ts", "event_id")
      .as[graft.streaming.TransEvent].collect()
    val (b1, b2) = events.splitAt(events.length / 2)
    val in = MemoryStream[graft.streaming.TransEvent]
    val q = Streams.eventTransitions(in.toDS())
      .writeStream.format("memory").queryName("trans")
      .outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("trans")
        .groupBy("prev", "next").count()
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(streamed == batch,
        s"stream-only: ${(streamed.toSet diff batch.toSet).take(3)}, " +
          s"batch-only: ${(batch.toSet diff streamed.toSet).take(3)}")
    } finally q.stop()
  }

  test("ohlcBars: a closed window's bar matches the batch fields exactly") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val q = Streams.ohlcBars(
        in.toDF().toDF("event_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("ohlc").outputMode("append").start()
    try {
      in.addData((10L, Timestamp.valueOf("2024-01-01 10:01:00"), "view", 5.0),
        (11L, Timestamp.valueOf("2024-01-01 10:04:00"), "view", 9.0))
      q.processAllAvailable()
      in.addData((12L, Timestamp.valueOf("2024-01-01 10:08:00"), "view", 2.0),
        (13L, Timestamp.valueOf("2024-01-01 10:14:00"), "view", 7.0))
      q.processAllAvailable()
      assert(spark.table("ohlc").count() == 0, "bar must stay open pre-watermark")
      in.addData((14L, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ohlc")
        .select("wstart", "event_type", "n_events", "open", "high", "low", "close")
        .as[(Timestamp, String, Long, Double, Double, Double, Double)]
        .collect().toSet
      // open/close picked by event_id across BOTH micro-batches
      assert(rows == Set((Timestamp.valueOf("2024-01-01 10:00:00"), "view",
        4L, 5.0, 9.0, 2.0, 7.0)), s"$rows")
    } finally q.stop()
  }

  test("sessionConcurrency: chained session->tumble counts bit-match q_session_concurrency") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr, max => fmax}
    val batch = graft.queries.EventQueries.sessionConcurrency.build(spark, sf)
      .select(expr("unix_micros(wstart)"), col("n_concurrent"))
      .as[(Long, Long)].collect().toMap
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .orderBy("ts", "event_id")
      .as[graft.streaming.ConcInput].collect()
    // split INSIDE the time range so open sessions straddle the boundary
    val (b1, b2) = events.splitAt(events.length / 2)
    // flush rows close every user's final open session — the batch
    // query sees the whole log, so its last sessions are "closed" too
    val flushTs = new Timestamp(events.map(_.ts.getTime).max + 3600 * 1000L)
    val flush = events.map(_.user_id).distinct
      .map(u => graft.streaming.ConcInput(u, flushTs, -1L))
    val in = MemoryStream[graft.streaming.ConcInput]
    val q = Streams.sessionConcurrency(in.toDS())
      .writeStream.format("memory").queryName("conc")
      .outputMode("update").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      in.addData(flush.toIndexedSeq)
      q.processAllAvailable()
      // update mode re-emits an hour's count each time it grows: the
      // final (max) update per hour is the closed-log answer
      val streamed = spark.table("conc")
        .groupBy("wstart_us").agg(fmax("n_concurrent"))
        .as[(Long, Long)].collect().toMap
      assert(streamed == batch,
        s"stream-only: ${(streamed.toSet diff batch.toSet).take(3)}, " +
          s"batch-only: ${(batch.toSet diff streamed.toSet).take(3)}")
    } finally q.stop()
  }

  test("scd2Apply: streamed version table bit-matches q_scd2_build across a split") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr, when}
    val batch = graft.queries.LakehouseQueries.scd2Build.build(spark, sf)
      .select(col("user_id"), col("version"), col("op"), col("value"),
        expr("unix_micros(valid_from)"), expr("unix_micros(valid_to)"),
        col("is_current"))
      .as[(Long, Long, String, Double, Long, Option[Long], Boolean)]
      .collect().toSet
    // the same change stream q_scd2_build versions, in its window order
    val changes = graft.engine.Tables.t(spark, sf, "events")
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("event_type") === "error", "delete")
          .otherwise("upsert").as("op"))
      .orderBy("ts", "event_id")
      .as[graft.streaming.Scd2Input].collect()
    val (b1, b2) = changes.splitAt(changes.length / 2)
    val in = MemoryStream[graft.streaming.Scd2Input]
    val q = Streams.scd2Apply(in.toDS())
      .writeStream.format("memory").queryName("scd2")
      .outputMode("append").start()
    try {
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      // a version is emitted open and (if superseded) once more closed;
      // the closed emission is final — per (user, version) prefer it
      val streamed = spark.table("scd2")
        .as[(Long, Long, String, Double, Long, Option[Long], Boolean)]
        .collect()
        .groupBy(r => (r._1, r._2))
        .map { case (_, rows) => rows.find(_._6.isDefined).getOrElse(rows.head) }
        .toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed diff batch).take(3)}, " +
          s"batch-only: ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("the same transform runs in batch mode (unified API)") {
    val batch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:05:00"), "click", 2.0),
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"), "click", 3.0),
      (3L, Timestamp.valueOf("2024-01-01 11:05:00"), "click", 7.0))
      .toDF("event_id", "ts", "event_type", "value")
    val out = Streams.ohlcBars(batch).orderBy("wstart")
      .as[(Timestamp, String, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(out == Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 2.0, 3.0, 2.0, 3.0),
      (Timestamp.valueOf("2024-01-01 11:00:00"), "click", 1L, 7.0, 7.0, 7.0, 7.0)))
  }

  test("dailyMvState: streamed MV bit-matches q_incremental_agg at a mid-day split") {
    implicit val ctx = spark.sqlContext
    def at(d: Int, h: Int, tpe: String, v: Double) = StreamEvent(
      1L, Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00"), tpe, v)
    // the q_incremental_agg fixture shape: old-only day, delta-only day,
    // and a boundary day whose rows straddle the batch split (min on one
    // side, max on the other)
    val older = Seq(
      at(10, 9, "view", 5.00), at(10, 10, "view", 1.25),
      at(21, 8, "view", 0.50), at(21, 11, "view", 2.00))
    val newer = Seq(
      at(25, 9, "click", 7.00),
      at(21, 13, "view", 9.75), at(21, 23, "view", 3.00))
    val in = MemoryStream[StreamEvent]
    val q = Streams.dailyMvState(in.toDF())
      .writeStream.format("memory").queryName("mv").outputMode("complete").start()
    try {
      in.addData(older: _*)
      q.processAllAvailable()
      in.addData(newer: _*) // the delta batch folds INTO standing state
      q.processAllAvailable()
      val streamed = spark.table("mv")
        .as[(String, java.sql.Date, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2.toString, r._3, r._4, r._5, r._6)).toSet
      // batch MV over the same rows, through the parquet contract
      import org.apache.spark.sql.functions.{col, lit, unix_micros}
      val dir = java.nio.file.Files.createTempDirectory("stream-mv").toString
      (older ++ newer).toDF()
        .select(unix_micros(col("ts")).as("event_id"),
          (unix_micros(col("ts")) * 1000).as("ts"), col("user_id"),
          col("event_type"), col("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = graft.queries.LakehouseQueries.incrementalAgg
        .build(spark, dir)
        .as[(String, java.sql.Date, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2.toString, r._3, r._4, r._5, r._6)).toSet
      assert(streamed == batch,
        s"stream-only: ${streamed diff batch}, batch-only: ${batch diff streamed}")
      assert(streamed.exists(r => r._2 == "2024-01-21" && r._3 == 4L),
        "the boundary day folded across the micro-batch split")
    } finally q.stop()
  }

  test("goldenRecords: streamed entity resolution bit-matches q_entity_resolve across a split") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.streaming.CustArrival
    // one block (nation 10 / BUILDING / band 0) holding a 3-record
    // entity whose third member arrives in the SECOND micro-batch (the
    // cross-split merge), one clean 2-record entity in another block,
    // and singletons that must not surface
    val custs = Seq(
      CustArrival(1L, "Alpha One", 10L, "BUILDING", 100.00),
      CustArrival(2L, "Alpha One!", 10L, "BUILDING", 1500.00),
      CustArrival(3L, "Alpha Onee", 10L, "BUILDING", 1509.00),
      CustArrival(4L, "Beta Two", 20L, "AUTOMOBILE", 10.00),
      CustArrival(5L, "Beta Twoo", 20L, "AUTOMOBILE", 12.00),
      CustArrival(6L, "Zeta Solo", 10L, "BUILDING", 50.00),
      CustArrival(7L, "Alpha One", 30L, "BUILDING", 100.00))
    val (b1, b2) = (custs.filter(_.c_custkey <= 2) :+ custs(3) :+ custs(6),
      Seq(custs(2), custs(4), custs(5)))
    val in = MemoryStream[CustArrival]
    val q = Streams.goldenRecords(in.toDS())
      .writeStream.format("memory").queryName("golden")
      .outputMode("append").start()
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val all = spark.table("golden")
        .as[graft.streaming.GoldenRecord].collect().toSeq
      // interim revision: the {1,2} cluster existed before member 3 merged in
      assert(all.exists(g => g.entity_id == 1L && g.n_records == 2L),
        "first batch must emit the pre-merge 2-record entity")
      // final state: latest revision per block, tombstones excluded
      val latest = all.groupBy(g => (g.blk_nation, g.blk_segment, g.blk_band))
        .flatMap { case (_, gs) =>
          val mx = gs.map(_.rev).max
          gs.filter(g => g.rev == mx && g.entity_id >= 0)
        }
        .map(g => (g.entity_id, g.n_records, g.custkey_kept, g.name_kept,
          g.nation_kept, g.cents_kept, g.needs_review))
        .toSet
      // the batch query over the same records, through the parquet contract
      val dir = java.nio.file.Files.createTempDirectory("stream-er").toString
      custs.toDF().write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val batch = graft.queries.AdvancedJoinQueries.entityResolve
        .build(spark, dir)
        .select(col("entity_id"), col("n_records"), col("custkey_kept"),
          col("name_kept"), col("nation_kept"), col("cents_kept"),
          col("needs_review"))
        .as[(Long, Long, Long, String, Long, Long, Boolean)]
        .collect().toSet
      assert(batch.nonEmpty, "fixture must produce batch entities")
      assert(latest == batch,
        s"stream-only: ${latest diff batch}, batch-only: ${batch diff latest}")
      // the cross-split merge happened: entity 1 is a 3-record cluster
      // flagged for review (its weakest link is 'possible'-strength)
      assert(latest.exists(r => r._1 == 1L && r._2 == 3L && r._7),
        s"expected the merged 3-record entity flagged for review: $latest")
      assert(latest.exists(r => r._1 == 4L && r._2 == 2L && !r._7),
        s"expected the clean 2-record entity: $latest")
    } finally q.stop()
  }

  test("userLifetimes: state bit-matches the batch user aggregation under out-of-order cross-batch arrival") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // batch truth: q_survival_km's user-grain aggregation (first/last
    // activity day + first-event cohort by the (ts, event_id) tiebreak)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val batch = graft.engine.Tables.t(spark, sf, "events")
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("first_d"),
        max(to_date(col("ts"))).as("last_d"),
        min(when(col("rn") === 1, col("event_type"))).as("cohort"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("cohort"), r.getAs[java.sql.Date]("first_d").toString,
          r.getAs[java.sql.Date]("last_d").toString)).toMap
    // stream the SAME events with the LATE half first: every user's
    // first event arrives in batch 2, so the cohort pick must correct
    // already-written state, not just extend it
    val events = graft.engine.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .orderBy("ts", "event_id")
      .as[graft.streaming.TransEvent].collect()
    val (early, late) = events.splitAt(events.length / 2)
    val in = MemoryStream[graft.streaming.TransEvent]
    val q = graft.streaming.Streams.userLifetimes(in.toDS())
      .writeStream.format("memory").queryName("lifetimes")
      .outputMode("append").start()
    try {
      in.addData(late.toIndexedSeq) // later events FIRST
      q.processAllAvailable()
      in.addData(early.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("lifetimes")
        .orderBy(col("revision").desc)
        .collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[String]("cohort"),
            r.getAs[java.sql.Date]("first_day").toString,
            r.getAs[java.sql.Date]("last_day").toString))
        .groupBy(_._1).view.mapValues(_.head._2).toMap
      assert(streamed == batch,
        s"diff: ${(streamed.toSet diff batch.toSet).take(3)} vs " +
          s"${(batch.toSet diff streamed.toSet).take(3)}")
    } finally q.stop()
  }
}
