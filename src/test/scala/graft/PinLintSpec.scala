package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one owner of per-invocation pins: an eager
  * `localCheckpoint` in main code goes through `graft.core.PinScope`
  * (per invocation) or `graft.core.Memo` (per session). A raw one
  * elsewhere is a pin that nothing frees until GC notices — a long-lived
  * loop (server, stream, shell, sweep) accumulates them. The smoke mains
  * that price pin kinds against each other keep theirs. The removed
  * thread-keyed registries must not come back under their old names.
  * Reads source text only — starts no Spark session. */
class PinLintSpec extends AnyFunSuite {

  private val srcRoot = Paths.get("src")
  private val mainRoot = Paths.get("src/main/scala")
  private val allowed = Set("graft/core/PinScope.scala", "graft/core/Memo.scala",
    "graft/ReliableStateSmoke.scala", "graft/IndexAdmitSmoke.scala").map(Paths.get(_))
  private val self = Paths.get("test/scala/graft/PinLintSpec.scala")
  private val checkpoint = raw"\blocalCheckpoint\b".r
  private val removedNames = raw"\b(?:TransientPins|RoundPins)\b".r

  // keeps a block comment's newlines, so reported line numbers stay true
  private def stripComments(src: String): String =
    raw"(?s)/\*.*?\*/".r.replaceAllIn(src, _.matched.filter(_ == '\n'))
      .replaceAll("//[^\n]*", "")

  private def scalaFiles(root: Path): List[Path] = {
    val files = Files.walk(root)
    try files.iterator().asScala.toList.filter(_.toString.endsWith(".scala"))
    finally files.close()
  }

  private def hits(root: Path, p: Path, src: String, re: scala.util.matching.Regex) =
    re.findAllMatchIn(src).map { m =>
      s"${root.relativize(p)}:${src.substring(0, m.start).count(_ == '\n') + 1}"
    }

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  /** `file:line` of every `localCheckpoint` in code outside the allowed files. */
  private def rawCheckpoints(root: Path): Seq[String] =
    scalaFiles(root).filterNot(p => allowed(root.relativize(p)))
      .flatMap(p => hits(root, p, stripComments(read(p)), checkpoint))

  /** `file:line` of every removed registry name, comments included. */
  private def removedRegistries(root: Path): Seq[String] =
    scalaFiles(root).filterNot(p => root.relativize(p) == self)
      .flatMap(p => hits(root, p, read(p), removedNames))

  test("no raw localCheckpoint in main code outside PinScope, Memo and the pin-pricing smokes") {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: $mainRoot")
    val found = rawCheckpoints(mainRoot)
    assert(found.isEmpty,
      s"pin through graft.core.PinScope (per invocation) or Memo (per session):\n${found.mkString("\n")}")
  }

  test("no TransientPins or RoundPins name anywhere under src/") {
    val found = removedRegistries(srcRoot)
    assert(found.isEmpty, s"per-invocation pins belong to PinScope:\n${found.mkString("\n")}")
  }

  test("the guard recognizes the shapes it must catch") {
    val dir = Files.createTempDirectory("pin_lint_probe")
    Files.createDirectories(dir.resolve("graft/core"))
    Files.write(dir.resolve("Probe.scala"), Seq(
      "/** df.localCheckpoint(true) in a scaladoc is fine",
      "  * across lines */",
      "object Probe {",
      "  // a line comment naming localCheckpoint(true) is fine",
      "  val a = df.localCheckpoint(true)",
      "  val b = df",
      "    .localCheckpoint(eager = true)",
      "  val c = df.localCheckpoint",
      "  val d = df.checkpoint(true)",
      "  // TransientPins.drain(spark)",
      "  val e = new RoundPins",
      "}").asJava)
    Files.write(dir.resolve("graft/core/Memo.scala"),
      Seq("object Memo { def pinned(df: DataFrame) = df.localCheckpoint(true) }").asJava)
    assert(rawCheckpoints(dir) === Seq("Probe.scala:5", "Probe.scala:7", "Probe.scala:8"))
    assert(removedRegistries(dir) === Seq("Probe.scala:10", "Probe.scala:11"))
  }
}
