package perfbench

import scala.io.Source

/** One run's instructions, written by `run.py` as `key value...` lines:
  * the workload, its directories, the measuring window, and every pass's
  * query order (already permuted from the seed, so the JVM never sees the
  * seed itself). `expect <query> <digest>` lines carry the recorded
  * result digests the run's outputs are checked against, and
  * `rows <table> <n>` lines the input tables' row counts. */
final case class Plan(
    workload: String,
    dataDir: String,
    streamDir: String,
    workDir: String,
    outFile: String,
    seconds: Double,
    minPasses: Int,
    setupRounds: Int,
    trace: Boolean,
    passes: Vector[Vector[String]],
    expected: Map[String, String],
    tableRows: Map[String, Long])

object Plan {
  def read(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().map(_.trim).filter(_.nonEmpty).toVector
    finally src.close()
    val kv = lines.map(_.split("\\s+").toVector)
    def one(k: String): String = kv.find(_.head == k).map(_(1))
      .getOrElse(throw new IllegalArgumentException(s"plan lacks '$k'"))
    Plan(
      workload = one("workload"),
      dataDir = one("data"),
      streamDir = kv.find(_.head == "stream").map(_(1)).getOrElse(""),
      workDir = one("work"),
      outFile = one("out"),
      seconds = one("seconds").toDouble,
      minPasses = one("min_passes").toInt,
      setupRounds = one("setup_rounds").toInt,
      trace = one("trace") == "1",
      passes = kv.filter(_.head == "pass").map(_.tail),
      expected = kv.filter(_.head == "expect").map(a => a(1) -> a(2)).toMap,
      tableRows = kv.filter(_.head == "rows").map(a => a(1) -> a(2).toLong).toMap)
  }
}
