package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc attaches to the definition directly below it, so a doc
  * comment followed at once by another doc comment documents nothing:
  * the first block is dropped and the def reads only the second. Also
  * guards four decisions the main sources make in one place only, and
  * that no public def is kept alive by its specs alone.
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

  /** `name -> file` for each public def under src/main/scala whose name
    * occurs nowhere in src/main, bench/ or tools/ except on its own def
    * line. A word scan: a name quoted in a doc comment counts as a
    * caller, and a name defined more than once (overloads, same-named
    * members) is left to the compiler.
    */
  private def specOnlyDefs(): Map[String, String] = {
    def files(dir: String, exts: Seq[String]): Seq[Path] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator.asScala.filter(p => exts.exists(p.toString.endsWith(_))).toSeq.sorted
      finally walk.close()
    }
    val main = files("src/main/scala", Seq(".scala"))
    val others = Seq("bench", "tools").flatMap(files(_, Seq(".scala", ".py", ".sh")))
    val text = (main ++ others).map(f => new String(Files.readAllBytes(f), "UTF-8"))
    val defLine =
      raw"^\s*((?:(?:override|final|implicit|protected|private(?:\[\w+\])?|@\w+)\s+)*)def\s+([A-Za-z_]\w*)".r
    val defs = main.flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(defLine.findFirstMatchIn(_))
        .map(m => (m.group(2), m.group(1), Paths.get("src/main/scala").relativize(f).toString))
    }
    def uses(name: String): Int = {
      val word = ("(?<![\\w$])" + java.util.regex.Pattern.quote(name) + "(?![\\w$])").r
      text.map(word.findAllIn(_).size).sum
    }
    defs.groupBy(_._1).collect {
      case (name, Seq((_, mods, file)))
        if name != "main" && !raw"override|private|protected".r.findFirstIn(mods).isDefined &&
          uses(name) == 1 => name -> file
    }
  }

  /** Reference-parity defs: each reproduces a step of the reference code
    * that no pipeline here runs, and its spec pins the parity.
    */
  private val referenceParity = Map(
    "exportSingleCsv" -> "reference README.md:188-191, SinksSpec",
    "exportSingleParquet" -> "reference README.md:188-191, SinksSpec",
    "registerAll" -> "reference gold_sql_to_postgres.py:59-63, TablesSpec",
    "postgresGoldDdl" -> "the reference's gold schema DDL, GoldPipelineSpec")

  /** Spec-only defs not deleted yet. Each goes together with the named
    * spec's cases that check only it; the list only shrinks.
    */
  private val pendingDeletion = Map(
    "buildImi" -> "ImiSpec",
    "windowedStats" -> "StreamsSpec",
    "dedupStream" -> "StreamsSpec",
    "heavyHitterCandidates" -> "StreamsSpec",
    "closedSessions" -> "StreamsSpec",
    "wetIngest" -> "StreamsSpec",
    "joinSketchIngest" -> "StreamsSpec",
    "readCleanStream" -> "StreamsSpec",
    "minHashSketch" -> "DedupSpec",
    "bandsForThreshold" -> "DedupSpec",
    "hasAnyPhrase" -> "MultiPhraseMatchSpec",
    "l2Sq" -> "VectorProperties",
    "nextWatermark" -> "JdbcSourceSpec",
    "vocabularyBytes" -> "BpeSpec",
    "mahalanobisScore" -> "EmbeddingsSpec",
    "fuzzyJoin" -> "EntityResolutionSpec",
    "multiFrameNearDupPairs" -> "MultimodalSpec",
    "binStats" -> "PackingSpec",
    "cardDiff" -> "SaltQualitySpec",
    "repeatedSpans" -> "SpanDedupSpec",
    "tokenDropout" -> "TextAugmentSpec")

  test("every public def in src/main/scala has a caller outside src/test") {
    assert(Files.isDirectory(Paths.get("src/main/scala")),
      s"run from the project root: ${Paths.get("").toAbsolutePath}")
    val found = specOnlyDefs()
    val unexpected = found -- referenceParity.keySet -- pendingDeletion.keySet
    if (unexpected.nonEmpty)
      fail(s"${unexpected.size} public defs only specs call (give each a caller or delete it):\n" +
        unexpected.toSeq.sorted.map { case (n, f) => s"$f: $n" }.mkString("\n"))
    val stale = (referenceParity.keySet ++ pendingDeletion.keySet) -- found.keySet
    assert(stale.isEmpty, s"no longer spec-only, drop from the exception lists: ${stale.toSeq.sorted}")
  }
}
