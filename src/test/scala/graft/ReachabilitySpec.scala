package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Library code has a caller outside the tests: every top-level object,
  * class and trait under `graft/{engine,functions,expressions,streaming}`
  * is named, comments stripped, in another `src/main` or `perfbench/jvm`
  * source, or in its own file outside its own definition. A definition
  * only specs call is dead weight, so it fails here. Scans the sources;
  * needs no SparkSession. */
class ReachabilitySpec extends AnyFunSuite {
  // the COVID reference surface is kept whole; its callers are its specs
  private val keptSurface = Set("Covid", "Dashboard")

  private def sources(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> stripComments(Files.readString(p))).toList
    finally s.close()
  }

  private def stripComments(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")

  private val decl =
    ("^(?:(?:private|protected)(?:\\[\\w+\\])?\\s+|final\\s+|sealed\\s+|" +
      "abstract\\s+|implicit\\s+|case\\s+)*(?:object|class|trait)\\s+(\\w+)").r

  private val all = sources("src/main/scala") ++ sources("perfbench/jvm")
  private val library = all.filter { case (p, _) =>
    p.toString.matches(".*/graft/(engine|functions|expressions|streaming)/.*")
  }

  /** Top-level definitions of one library file that nothing names. */
  private def unreached(path: Path, text: String): Seq[String] = {
    val lines = text.split("\n", -1).toIndexedSeq
    val starts = lines.indices.flatMap(i =>
      decl.findPrefixMatchOf(lines(i)).map(m => i -> m.group(1)))
    starts.zipWithIndex.collect {
      case ((i, name), k) if !keptSurface(name) && {
          val end = if (k + 1 < starts.size) starts(k + 1)._1 else lines.size
          val word = s"\\b$name\\b".r
          val rest = (lines.take(i) ++ lines.drop(end)).mkString("\n")
          word.findFirstIn(rest).isEmpty &&
            all.forall { case (q, u) => q == path || word.findFirstIn(u).isEmpty }
        } => s"$path: $name"
    }
  }

  test("every library object, class and trait has a caller outside the tests") {
    assert(library.nonEmpty)
    val dead = library.flatMap { case (p, t) => unreached(p, t) }
    assert(dead.isEmpty, dead.mkString("unreached: ", ", ", ""))
  }
}
