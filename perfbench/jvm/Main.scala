package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.engine.Tables

/** The benchmark's JVM: runs one workload as a closed loop with one client
  * thread and writes raw samples for `run.py` to aggregate.
  *
  * Usage: `perfbench.Main <plan file>` (see [[Plan]]). With `trace 1` the
  * warm passes alternate traced and untraced, so one run yields both the
  * per-layer numbers and the tracing overhead.
  */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session `graft.Bench` builds, plus the RocksDB state store the
    * streaming processors require. */
  def session(stream: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    if (stream) b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session ready plus warm-up: one grouped read of `events`, which loads
    * the parquet reader, codegen and the shuffle path. */
  def setup(plan: Plan): SparkSession = {
    val s = session(plan.workload == "stream")
    Tables.t(s, plan.dataDir, "events").groupBy("event_type").count().collect()
    s
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "--oracle") dumpOracle(args(1)) else run(args(0))

  def run(planFile: String): Unit = {
    val plan = Plan.read(planFile)
    var spark = setup(plan)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1e3)
    val out = new Out
    val runner: Runner =
      if (plan.workload == "stream") new StreamRunner(spark, plan, out)
      else new QueryRunner(spark, plan, out)
    val tracer = if (plan.trace) Some(new Tracer(spark.sparkContext)) else None
    val clock = new JobClock
    if (plan.workload != "stream") spark.sparkContext.addSparkListener(clock)

    // the measuring window holds the cold first pass and whole warm passes
    val t0 = System.nanoTime()
    runner.pass(0, plan.passes(0), None)
    val tw = System.nanoTime()
    var p = 1
    while (p < plan.passes.size &&
        (p <= plan.minPasses || (System.nanoTime() - t0) / 1e9 < plan.seconds)) {
      // traced runs alternate: odd passes traced, even passes untraced
      val tr = tracer.filter(_ => p % 2 == 1)
      tr.foreach { t =>
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      }
      runner.pass(p, plan.passes(p), tr)
      tr.foreach { t =>
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
      }
      p += 1
    }
    out.num("warm_s", (System.nanoTime() - tw) / 1e9)
    if (plan.workload != "stream") {
      clock.drain(spark.sparkContext)
      clock.jobs.foreach { case (s, e) => out.row("jobs", "start" -> s, "end" -> e) }
    }
    out.num("rss_peak_mb", rssPeakMb())
    tracer.foreach { t =>
      t.jobLog.foreach { case (sp, id, a, b, n) =>
        out.row("trace_jobs", "span" -> sp, "id" -> id, "start" -> a, "end" -> b, "stages" -> n) }
      t.stageLog.foreach { case (job, id, a, b, n) =>
        out.row("trace_stages", "job" -> job, "id" -> id, "start" -> a, "end" -> b, "tasks" -> n) }
    }

    for (_ <- 2 to plan.setupRounds) {
      spark.stop()
      val t = System.nanoTime()
      spark = setup(plan)
      setups += (System.nanoTime() - t) / 1e9
    }
    out.arr("setup_s", setups.map(_.toString))
    out.num("cores", cores)
    spark.stop()
    out.write(plan.outFile)
  }

  /** `perfbench.Main --oracle <file>`: dump `SparkEntry.oracleSql` as JSON
    * for `record.py`. */
  def dumpOracle(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      graft.SparkEntry.oracleSql.toSeq.sorted
        .map { case (k, v) => Out.str(k) + ":" + Out.str(v) }.mkString("{", ",\n", "}\n"))

  /** Peak resident set of this JVM, from /proc (MiB). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Start and end time of every job: the `batch_*` metrics of the query
  * workloads, where a job is the unit the scheduler runs. */
final class JobClock extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val starts = mutable.HashMap.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var lastEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(starts(e.jobId) = e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized(starts.remove(e.jobId).foreach(s => jobs += ((s, e.time))))
    lastEnd = e.jobId
  }

  /** Wait until the end event of one more job has been delivered. */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    val f = sc.submitJob[Int, Unit, Unit](sc.parallelize(Seq(1), 1),
      (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
    scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
    val deadline = System.currentTimeMillis() + 30000
    while (lastEnd < f.jobIds.head && System.currentTimeMillis() < deadline) Thread.sleep(1)
  }
}

/** Hand-rolled JSON accumulator (the JVM side has no JSON dependency). */
final class Out {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  private val rows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]

  def num(k: String, v: Double): Unit = fields(k) = fmt(v)
  def arr(k: String, vs: Iterable[String]): Unit = fields(k) = vs.mkString("[", ",", "]")
  def row(k: String, kv: (String, Any)*): Unit =
    rows.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += kv.map { case (a, b) =>
      Out.str(a) + ":" + (b match {
        case d: Double => fmt(d)
        case l: Long => l.toString
        case i: Int => i.toString
        case z: Boolean => z.toString
        case s => Out.str(String.valueOf(s))
      })
    }.mkString("{", ",", "}")

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def write(path: String): Unit = {
    val all = fields.map { case (k, v) => Out.str(k) + ":" + v } ++
      rows.map { case (k, v) => Out.str(k) + ":" + v.mkString("[", ",\n", "]") }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      all.mkString("{", ",\n", "}\n"))
  }
}

object Out {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** SQLMetric totals of one query's final plan. */
final case class OpsStats(scanRows: Long = 0, outRows: Long = 0, wscgMs: Long = 0,
    exchangeWriteMs: Double = 0, aqeStages: Int = 0)

trait Runner {
  def pass(p: Int, names: Seq[String], tracer: Option[Tracer]): Unit
}

/** `dashboard` and `pipeline`: each unit of work is one declared query —
  * build (the `Registry` builder), plan (Catalyst, forced through
  * `executedPlan`), execute (`collect`) — and its result is checked
  * against the recorded oracle digest. */
final class QueryRunner(spark: SparkSession, plan: Plan, out: Out) extends Runner {
  private val builders = graft.SparkEntry.queries
  private var seq = 0
  private val readMs = mutable.HashMap.empty[String, (Double, Long)]

  def pass(p: Int, names: Seq[String], tracer: Option[Tracer]): Unit =
    names.foreach(n => one(p, n, tracer))

  private def now = System.nanoTime()

  private def one(p: Int, name: String, tracer: Option[Tracer]): Unit = {
    seq += 1
    val span = s"q$seq"
    val sc = spark.sparkContext
    def inSpan[T](child: String)(f: => T): T = {
      if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanKey, s"$span/$child")
      try f finally if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanKey, null)
    }
    val compile0 = CodeGenerator.compileTime
    val tStart = System.currentTimeMillis()
    val t0 = now
    var t1, t2, t3 = 0L
    var df: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    var err = ""
    try {
      df = inSpan("build")(builders(name)(spark, plan.dataDir))
      t1 = now
      inSpan("plan")(df.queryExecution.executedPlan)
      t2 = now
      rows = inSpan("execute")(df.collect())
      t3 = now
    } catch {
      case e: Throwable =>
        t3 = now
        err = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
    }
    val wallMs = (t3 - t0) / 1e6
    var digest = ""
    if (rows != null) {
      digest = Canon.of(df.columns.toSeq, rows.iterator)
      val want = plan.expected.getOrElse(name, "")
      if (digest != want) err = s"result digest $digest != expected $want"
    }
    out.row("samples", "pass" -> p, "name" -> name, "span" -> span,
      "wall_ms" -> wallMs, "ok" -> err.isEmpty, "error" -> err,
      "digest" -> digest, "rows" -> (if (rows == null) -1 else rows.length),
      "input_rows" -> inputRows(df), "start_ms" -> tStart)
    tracer.foreach { t =>
      val compileMs = (CodeGenerator.compileTime - compile0) / 1e6
      t.drain()
      val ph = if (df != null) t.phasesOf(df.queryExecution) else Map.empty[String, (Long, Long)]
      def ms(k: String): Double = ph.get(k).map { case (a, b) => (b - a).toDouble }.getOrElse(0.0)
      ph.foreach { case (k, (a, b)) =>
        out.row("trace_phases", "span" -> span, "phase" -> k, "start" -> a, "end" -> b) }
      val all = Seq("build", "plan", "execute").map(c => t.agg(s"$span/$c"))
      val (tables, tablesMs, tableJobs) = if (df != null) readCost(df, t) else (0, 0.0, 0L)
      val ops = if (rows != null) opsOf(df, rows.length) else OpsStats()
      val storage = spark.sparkContext.getRDDStorageInfo
      val jobIv = all.flatMap(_.jobIntervals)
      val taskIv = all.flatMap(_.taskIntervals)
      // time between the query's first job start and last job end
      // in which none of its jobs runs
      val jobGap =
        if (jobIv.isEmpty) 0L
        else jobIv.map(_._2).max - jobIv.map(_._1).min - Tracer.unionMs(jobIv)
      out.row("traced", "span" -> span, "name" -> name, "pass" -> p,
        "wall_ms" -> wallMs, "build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
        "execute_ms" -> (t3 - t2) / 1e6, "ok" -> err.isEmpty,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"),
        "tables" -> tables, "tables_read_ms" -> tablesMs, "tables_read_jobs" -> tableJobs,
        "build_jobs" -> all.head.jobs,
        "jobs" -> all.map(_.jobs).sum, "stages" -> all.map(_.stages).sum,
        "stages_skipped" -> all.map(_.stagesSkipped).sum,
        "tasks" -> all.map(_.tasks).sum, "empty_tasks" -> all.map(_.emptyTasks).sum,
        "job_union_ms" -> Tracer.unionMs(jobIv), "task_union_ms" -> Tracer.unionMs(taskIv),
        "job_gap_ms" -> jobGap,
        "task_run_ms" -> all.map(_.runMs).sum, "task_cpu_ms" -> all.map(_.cpuNs).sum / 1e6,
        "gc_ms" -> all.map(_.gcMs).sum, "shuffle_write_bytes" -> all.map(_.shufW).sum,
        "shuffle_read_bytes" -> all.map(_.shufR).sum,
        "spill_bytes" -> all.map(_.spill).sum,
        "peak_exec_mem_bytes" -> all.map(_.peakMem).foldLeft(0L)(math.max),
        "codegen_compile_ms" -> compileMs,
        "scan_rows" -> ops.scanRows, "out_rows" -> ops.outRows, "wscg_ms" -> ops.wscgMs,
        "exchange_write_ms" -> ops.exchangeWriteMs, "aqe_stages" -> ops.aqeStages,
        "pin_blocks" -> storage.map(_.numCachedPartitions.toLong).sum,
        "pin_bytes" -> storage.map(r => r.memSize + r.diskSize).sum,
        "start_ms" -> tStart)
    }
  }

  /** Input rows the query's plan reads from the engine tables: the row
    * counts of its file relations, one per relation instance. */
  private def relations(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        r.relation.asInstanceOf[HadoopFsRelation]
          .location.rootPaths.head.getName.stripSuffix(".parquet")
    }

  private def inputRows(df: DataFrame): Long =
    if (df == null) 0L else relations(df).map(plan.tableRows.getOrElse(_, 0L)).sum

  /** Time `Tables.t` for each table relation of the query (once per table
    * per run, then reused), counting the jobs a read launches. */
  private def readCost(df: DataFrame, t: Tracer): (Int, Double, Long) = {
    val rels = relations(df)
    val sc = spark.sparkContext
    val costs: Map[String, (Double, Long)] = rels.distinct.map { name =>
      name -> readMs.getOrElseUpdate(name, {
        val span = s"read/$name"
        sc.setLocalProperty(Tracer.SpanKey, span)
        val a = System.nanoTime()
        Tables.t(spark, plan.dataDir, name)
        val ms = (System.nanoTime() - a) / 1e6
        sc.setLocalProperty(Tracer.SpanKey, null)
        t.drain()
        (ms, t.agg(span).jobs)
      })
    }.toMap
    (rels.size, rels.map(costs(_)._1).sum, rels.map(costs(_)._2).sum)
  }

  /** SQLMetrics of the final adaptive plan, read after execution. */
  private def opsOf(df: DataFrame, outRows: Long): OpsStats = {
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      nodes += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    OpsStats(
      scanRows = nodes.collect { case p if p.nodeName.startsWith("Scan ") &&
        p.metrics.contains("numFiles") => metric(p, "numOutputRows") }.sum,
      outRows = outRows,
      wscgMs = nodes.collect { case p if p.nodeName.startsWith("WholeStageCodegen") =>
        metric(p, "pipelineTime") }.sum,
      exchangeWriteMs = nodes.collect { case p if p.metrics.contains("shuffleWriteTime") =>
        metric(p, "shuffleWriteTime") }.sum / 1e6,
      aqeStages = nodes.count(_.isInstanceOf[QueryStageExec]))
  }
}
