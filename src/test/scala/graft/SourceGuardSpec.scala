package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the cross-cutting helpers in their one home each. Sessions are
  * built and confs are set/restored only in `GraftSession.scala`;
  * `Checkpoints.finalized`, `Tables.spread` and `ParquetFooter.footerSchema`
  * have no private copies. The loader writes parquet in one place. */
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
  /** Hits on code lines only, not in comments. */
  private def codeHits(needle: String): Seq[String] =
    sources.flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains(needle) && !line.trim.startsWith("*") &&
            !line.trim.startsWith("/*") && !line.trim.startsWith("//") =>
          s"${root.relativize(p)}:${i + 1}"
      }
    }
  private def files(hits: Seq[String]) = hits.map(_.takeWhile(_ != ':')).distinct

  test("the per-file and directory-swap staging are gone; their names live on only in recovery") {
    assert(hits("writeSingleFile") === Nil)
    assert(files(codeHits("__purge_")) === Seq("graft/loader/VersionPurge.scala"))
    assert(files(codeHits("_new_tmp")) === Seq("graft/loader/Compaction.scala"))
    for (f <- Seq("VersionPurge", "Compaction"))
      assert(hits("def recoverLegacy").exists(_.startsWith(s"graft/loader/$f.scala")), f)
  }

  test("one place under graft/loader builds parquet output writers") {
    def loader(h: Seq[String]) = h.filter(_.startsWith("graft/loader/"))
    assert(loader(codeHits("prepareWrite(")).size === 1)
    assert(files(loader(codeHits("prepareWrite("))) === Seq("graft/loader/ParquetSink.scala"))
    // the append path's DataFrame write, next to it, is the only other writer
    assert(files(loader(codeHits(".write"))) === Seq("graft/loader/ParquetSink.scala"))
  }

  test("every ParquetFileReader.open passes read options built from a given conf") {
    // `open(InputFile)` alone builds a fresh Hadoop Configuration per file
    // and ignores the session's parquet read options
    val calls = sources.flatMap { case (p, text) =>
      val needle = "ParquetFileReader.open("
      Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).map { i =>
          // the call's argument list, up to its matching close paren
          val args = text.iterator.drop(i + needle.length).scanLeft(1) {
            case (depth, '(') => depth + 1
            case (depth, ')') => depth - 1
            case (depth, _) => depth
          }.drop(1).takeWhile(_ > 0).length
          root.relativize(p).toString -> text.slice(i, i + needle.length + args)
        }.toList
    }
    assert(calls.nonEmpty)
    for ((file, call) <- calls)
      assert(call.contains("HadoopReadOptions.builder("), s"$file: $call")
  }
}
