package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Generates QUERIES.md — the navigable index of the declared query
  * surface: one row per [[graft.queries.Registry]] entry with a one-line
  * summary (first sentence of the query's scaladoc), its definition site
  * (file and name of the `val ... : Q =` declaration — no line number, so
  * editing code above a query does not rewrite its row), and its correctness
  * evidence (`oracle` = DuckDB hash-match via the driver gate, `rows-only`
  * = declared without SQL oracle). Needs no SparkSession: names and oracle
  * presence come from the registry object, sites and summaries from
  * scanning the query sources — and the generator FAILS if any declared
  * query cannot be located exactly once, so the doc cannot silently rot.
  * Regenerate with `sbt "runMain graft.QueryCatalog"` after adding or
  * moving a query (conventions mirror [[ExplainAudit]] -> PLANS.md).
  */
object QueryCatalog {

  private val QueriesDir = "src/main/scala/graft/queries"

  /** Definition site + first-sentence summary for one query, parsed from
    * source: the registration literal `"<name>"` is located, then the
    * enclosing `val ...: Q =` line, then the scaladoc block above it. */
  private final case class Site(file: String, valName: String, summary: String)

  private def firstSentence(doc: String): String = {
    // scaladoc -> plain text: strip markers, collapse whitespace, unwrap
    // the [[link]] syntax, cut at the first sentence boundary
    val text = doc.linesIterator
      .map(_.trim.stripPrefix("/**").stripPrefix("*/").stripPrefix("*").trim)
      .mkString(" ")
      .replaceAll("\\[\\[([^\\]]+)\\]\\]", "$1")
      .replaceAll("\\s+", " ").trim
    val cut = text.indexOf(". ")
    val s = if (cut >= 0) text.take(cut + 1) else text
    if (s.length <= 160) s else s.take(157) + "..."
  }

  private def parseSites(): Map[String, Site] = {
    val files = Files.list(Paths.get(QueriesDir)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { p =>
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toVector
      // a registration is the quoted name passed as Q.apply's first
      // argument — the `Q(` call is on the same line or the line directly
      // above; queries are all named q_*
      val reg = "\"(q_[a-z0-9_]+)\"".r
      val valDecl = "^\\s*(?:private\\s+)?val (\\w+): Q =".r
      lines.zipWithIndex.flatMap { case (l, i) =>
        reg.findFirstMatchIn(l).flatMap { m =>
          val isReg = l.contains("Q(") ||
            (i > 0 && lines(i - 1).trim.endsWith("Q("))
          // the enclosing declaration is the nearest `val ...: Q =` above
          // (possibly far above, when the val body is a block computing
          // shared constants before the Q call)
          val valIdx =
            if (!isReg) None
            else (i to 0 by -1).find(j => valDecl.findFirstIn(lines(j)).isDefined)
          valIdx.map { vi =>
            // scaladoc block directly above the val
            val docEnd = vi - 1
            val summary =
              if (docEnd >= 0 && lines(docEnd).trim.endsWith("*/")) {
                val docStart = (docEnd to 0 by -1)
                  .find(j => lines(j).trim.startsWith("/**")).getOrElse(docEnd)
                firstSentence(lines.slice(docStart, docEnd + 1).mkString("\n"))
              } else ""
            val valName = valDecl.findFirstMatchIn(lines(vi)).get.group(1)
            m.group(1) -> Site(s"$QueriesDir/${p.getFileName}", valName, summary)
          }
        }
      }
    }.groupBy(_._1).map { case (name, hits) =>
      require(hits.size == 1,
        s"query $name registered at ${hits.size} sites: ${hits.map(_._2)}")
      name -> hits.head._2
    }
  }

  def render(): String = {
    val sites = parseSites()
    val all = queries.Registry.all
    val missing = all.map(_.name).filterNot(sites.contains)
    require(missing.isEmpty, s"declared queries not found in $QueriesDir: $missing")
    val rows = all.map { q =>
      val s = sites(q.name)
      val ev = if (q.oracle.isDefined) "oracle" else "rows-only"
      s"| `${q.name}` | ${s.summary} | ${s.file} `${s.valName}` | $ev |"
    }
    val nOracle = all.count(_.oracle.isDefined)
    // rows are appended OUTSIDE the stripMargin literal: their leading
    // table pipes would otherwise be eaten as margin markers
    s"""# QUERIES — declared query catalog
       !
       !Generated by `sbt "runMain graft.QueryCatalog"` — do not edit by
       !hand. One row per `Registry.all` entry, in registration order:
       !${all.size} queries, $nOracle oracle-checked (DuckDB hash-match via
       !the driver's correctness gate), ${all.size - nOracle} rows-only.
       !Summaries are the first sentence of each query's scaladoc; see the
       !definition site for full semantics, plan shape, and 100-TB posture.
       !
       !| Query | What | Where | Evidence |
       !|---|---|---|---|
       !""".stripMargin('!') + rows.mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val md = render()
    Files.write(Paths.get("QUERIES.md"), md.getBytes(StandardCharsets.UTF_8))
    println(s"QUERIES.md written (${md.linesIterator.size} lines)")
  }
}
