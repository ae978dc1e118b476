package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc attaches to the definition directly below it, so a doc
  * comment followed at once by another doc comment documents nothing:
  * the first block is dropped and the def reads only the second. Also
  * guards four decisions the main sources make in one place only.
  */
class SourceDocsSpec extends AnyFunSuite {

  /** `file:line` of every line opening a doc comment right after a line
    * that closes one, under `root`.
    */
  private def stackedDocs(root: Path): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.map(_.trim).toIndexedSeq
      lines.indices.drop(1).collect {
        case i if lines(i - 1).endsWith("*/") && lines(i).startsWith("/**") =>
          s"${root.relativize(f)}:${i + 1}"
      }
    }
    finally files.close()
  }

  test("no doc comment in src/main/scala is directly followed by another") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val stacked = stackedDocs(root)
    if (stacked.nonEmpty) fail(s"${stacked.size} stacked doc comments:\n${stacked.mkString("\n")}")
  }

  /** `file:line` of every line under `root` that matches `pattern`. */
  private def matches(root: Path, pattern: scala.util.matching.Regex): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"${root.relativize(f)}:${i + 1}"
      }
    }
    finally files.close()
  }

  test("pins are scoped only through Caches.scoped, micro-batches only through one skeleton") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val scopes = matches(root, raw"Caches\.newScope\(".r)
      .filterNot(_.startsWith("graft/operators/Caches.scala:"))
    if (scopes.nonEmpty)
      fail(s"${scopes.size} hand-written scopes outside Caches (use Caches.scoped):\n${scopes.mkString("\n")}")
    val batches = matches(root, raw"\.foreachBatch\b".r)
    assert(batches.map(_.takeWhile(_ != ':')) === Seq("graft/streaming/Streams.scala"),
      s"one foreachBatch skeleton, in Streams; found:\n${batches.mkString("\n")}")
  }

  test("raw persists only in Caches, silver merges only in CdcMerge") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val persists = matches(root, raw"\.persist\(".r)
      .filterNot(_.startsWith("graft/operators/Caches.scala:"))
    if (persists.nonEmpty)
      fail(s"${persists.size} raw persists outside Caches (use Caches.pin):\n${persists.mkString("\n")}")
    // q08's catalog face merges two in-memory extracts and lands nothing
    val merges = matches(root, raw"mergeFullHistory\(".r)
      .filterNot(_.startsWith("graft/operators/CdcMerge.scala:"))
    assert(merges.map(_.takeWhile(_ != ':')) === Seq("graft/Queries.scala"),
      s"silver is reached only through CdcMerge.mergeInto; found:\n${merges.mkString("\n")}")
  }
}
