package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the cross-cutting helpers in their one home each. Sessions are
  * built and confs are set/restored only in `GraftSession.scala`;
  * `Checkpoints.finalized`, `Tables.spread` and `ParquetFooter.footerSchema`
  * have no private copies. */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def hits(needle: String): Seq[String] =
    sources.flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${root.relativize(p)}:${i + 1}"
      }
    }

  private def outsideGraftSession(needle: String): Seq[String] =
    hits(needle).filterNot(_.startsWith("graft/GraftSession.scala:"))

  test("the source tree is where the guard looks") {
    assert(sources.exists(_._1.endsWith("GraftSession.scala")))
  }

  test("only GraftSession builds a session") {
    assert(hits("SparkSession.builder").size === 1)
    assert(outsideGraftSession("SparkSession.builder") === Nil)
  }

  test("only GraftSession sets or unsets a conf") {
    assert(outsideGraftSession(".conf.set(") === Nil)
    assert(outsideGraftSession(".conf.unset(") === Nil)
  }

  test("one finalized, no private spread copies, no conf wrappers") {
    assert(hits("def finalized").map(_.takeWhile(_ != ':')) ===
      Seq("graft/operators/Checkpoints.scala"))
    assert(hits("def spreadSmallScan") === Nil)
    for (w <- Seq("withAqeOff", "withShufflePartitions", "withAdvisoryPartitionSize"))
      assert(hits(s"def $w") === Nil, w)
  }

  test("one footerSchema, in ParquetFooter") {
    assert(hits("def footerSchema").map(_.takeWhile(_ != ':')) ===
      Seq("graft/core/ParquetFooter.scala"))
  }
}
