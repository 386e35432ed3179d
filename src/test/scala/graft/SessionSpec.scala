package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The session decision lives in [[graft.Session]] alone: no other source
  * builds a SparkSession or picks a state store, and the removed launch
  * paths (per-main timers, the gate-only dedup memo) stay removed. Scans
  * the sources; needs no SparkSession. */
class SessionSpec extends AnyFunSuite {
  private val self = Paths.get("src/test/scala/graft/SessionSpec.scala")

  private def sources(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(_ == self)
      .map(p => p -> Files.readString(p)).toList
    finally s.close()
  }
  private val main = sources("src/main/scala")
  private val test = sources("src/test/scala")

  private def holding(srcs: Seq[(Path, String)], word: String): Seq[String] =
    srcs.collect { case (p, text) if text.contains(word) => p.toString }

  test("only graft/Session.scala builds a SparkSession") {
    assert(holding(main ++ test, "SparkSession.builder") ==
      Seq("src/main/scala/graft/Session.scala"))
  }

  test("no test chooses its own state-store provider") {
    assert(holding(test, "stateStore.providerClass").isEmpty)
  }

  test("the removed launch paths and the gate-only memo stay removed") {
    for (f <- Seq("TimeQ.scala", "ExplainDump.scala"))
      assert(!Files.exists(Paths.get("src/main/scala/graft", f)), f)
    for (w <- Seq("shareCtes", "pipeMemo", "resetShared", "TQ_DIR"))
      assert(holding(main ++ test, w).isEmpty, w)
  }
}
