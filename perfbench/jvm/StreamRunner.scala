package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.streaming._

/** `stream`: each unit of work is one streaming query run to termination
  * with `Trigger.AvailableNow` over the seed's arrival files, one file per
  * micro-batch, on a fresh checkpoint directory. The sink collects every
  * micro-batch into an order-free digest (the last batch only in complete
  * mode), which is checked against the recorded digest. */
final class StreamRunner(spark: SparkSession, plan: Plan, out: Out) extends Runner {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The stream queries: name -> (output mode, builder). */
  val queries: Map[String, (String, DataFrame => DataFrame)] = Map(
    "funnel" -> ("append", (df: DataFrame) => Streams.funnelStages(
      df.select("user_id", "ts", "event_type", "value").as[StreamEvent]).toDF()),
    "session_tws" -> ("append", (df: DataFrame) => Streams.sessionizeTws(
      df.select("user_id", "ts", "event_type", "value").as[StreamEvent],
      gapMs = 30L * 60 * 1000).toDF()),
    "concurrency" -> ("update", (df: DataFrame) => Streams.sessionConcurrency(
      df.select("user_id", "ts", "event_id").as[ConcInput])),
    "hll_group_regs" -> ("complete", (df: DataFrame) =>
      Streams.hllGroupRegisters(df, "event_type", "user_id")))

  private var seq = 0

  def pass(p: Int, names: Seq[String], tracer: Option[Tracer]): Unit =
    names.foreach(n => one(p, n, tracer))

  private def one(p: Int, name: String, tracer: Option[Tracer]): Unit = {
    seq += 1
    val span = s"s$seq"
    val (mode, build) = queries(name)
    val cp = s"${plan.workDir}/cp/$span-$name"
    var acc: Canon.Acc = null
    val sink = (batch: DataFrame, _: Long) => {
      if (acc == null) acc = new Canon.Acc(batch.columns.toSeq)
      val rows = batch.collect()
      if (mode == "complete") acc.reset()
      rows.foreach(acc.add)
    }
    val sc = spark.sparkContext
    if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanKey, s"$span/execute")
    val tStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var err = ""
    var progress: Array[StreamingQueryProgress] = Array.empty
    try {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(plan.streamDir)
      val q = build(src).writeStream.outputMode(mode)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
      try q.awaitTermination() finally progress = q.recentProgress
      q.exception.foreach(e => throw e)
    } catch {
      case e: Throwable => err = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
    } finally if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanKey, null)
    val wallMs = (System.nanoTime() - t0) / 1e6
    val digest = if (acc == null) "" else acc.digest
    if (err.isEmpty && digest != plan.expected.getOrElse(name, ""))
      err = s"result digest $digest != expected ${plan.expected.getOrElse(name, "")}"
    val batches = progress.filter(_.numInputRows > 0)
    val inRows = progress.map(_.numInputRows).sum
    out.row("samples", "pass" -> p, "name" -> name, "span" -> span, "wall_ms" -> wallMs,
      "ok" -> err.isEmpty, "error" -> err, "digest" -> digest, "rows" -> -1,
      "input_rows" -> inRows, "start_ms" -> tStart)
    batches.foreach { b =>
      out.row("batches", "span" -> span, "pass" -> p,
        "ms" -> b.durationMs.getOrDefault("triggerExecution", 0L).longValue)
    }
    tracer.foreach { t =>
      t.drain()
      val a = t.agg(s"$span/execute")
      def dur(k: String): Long = batches.map(_.durationMs.getOrDefault(k, 0L).longValue).sum
      def ops(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
        batches.map(_.stateOperators.map(f).sum).sum
      batches.foreach { b =>
        out.row("triggers", "span" -> span, "name" -> name, "batch" -> b.batchId,
          "start" -> java.time.Instant.parse(b.timestamp).toEpochMilli,
          "ms" -> b.durationMs.getOrDefault("triggerExecution", 0L).longValue)
      }
      out.row("traced_streams", "span" -> span, "name" -> name, "pass" -> p,
        "wall_ms" -> wallMs, "ok" -> err.isEmpty, "batches" -> batches.length,
        "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
        "query_planning_ms" -> dur("queryPlanning"), "wal_commit_ms" -> dur("walCommit"),
        "commit_offsets_ms" -> dur("commitOffsets"),
        "state_commit_ms" -> ops(_.commitTimeMs),
        "state_rows_total" -> batches.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
        "state_rows_updated" -> ops(_.numRowsUpdated),
        "state_mem_bytes" -> batches.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L),
        "input_rows" -> inRows,
        "jobs" -> a.jobs, "stages" -> a.stages, "stages_skipped" -> a.stagesSkipped,
        "tasks" -> a.tasks, "empty_tasks" -> a.emptyTasks,
        "job_union_ms" -> Tracer.unionMs(a.jobIntervals),
        "task_union_ms" -> Tracer.unionMs(a.taskIntervals),
        "task_run_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shufW, "shuffle_read_bytes" -> a.shufR,
        "spill_bytes" -> a.spill,
        "peak_exec_mem_bytes" -> a.peakMem, "start_ms" -> tStart)
    }
    deleteTree(new java.io.File(cp))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
