package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the session's single owners. Session-keyed state
  * lives in `graft.core.Memo`, which sweeps a stopped session's entries
  * and knows which entries survive an invalidation: a hand-rolled map
  * keyed by `SparkSession` anywhere else would hold stopped sessions for
  * the life of the JVM. Sessions are built by `graft.core.GraftSession`
  * alone: a builder anywhere else is a second place deciding the
  * session's conf. Reads source text only — starts no Spark session. */
class SessionKeyedMapLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")
  private val allowed = Paths.get("graft/core/Memo.scala")
  private val factory = Paths.get("graft/core/GraftSession.scala")
  private val mapType = raw"\b(?:TrieMap|HashMap|ConcurrentHashMap)\s*(?:\.\s*empty\s*)?\[".r
  private val builderCall = raw"\bSparkSession\s*\.\s*builder\b".r

  // keeps a block comment's newlines, so reported line numbers stay true
  private def stripComments(src: String): String =
    raw"(?s)/\*.*?\*/".r.replaceAllIn(src, _.matched.filter(_ == '\n'))
      .replaceAll("//[^\n]*", "")

  /** First type argument of the `[...]` opened just before `from`:
    * everything up to the first top-level comma or the closing bracket. */
  private def keyType(src: String, from: Int): String = {
    var depth = 0
    var i = from
    while (i < src.length && !(depth == 0 && (src(i) == ',' || src(i) == ']'))) {
      if (src(i) == '[' || src(i) == '(') depth += 1
      if (src(i) == ']' || src(i) == ')') depth -= 1
      i += 1
    }
    src.substring(from, i)
  }

  /** Every `.scala` file under `root` but `except`, as its path relative
    * to `root` and its comment-free text. */
  private def sources(root: Path, except: Path): List[(Path, String)] = {
    val files = Files.walk(root)
    try files.iterator().asScala.toList
      .filter(p => p.toString.endsWith(".scala") && root.relativize(p) != except)
      .map(p => (root.relativize(p),
        stripComments(new String(Files.readAllBytes(p), "UTF-8"))))
    finally files.close()
  }

  private def lineOf(src: String, at: Int): Int = src.substring(0, at).count(_ == '\n') + 1

  /** `file:line  declaration` for every map whose key type names SparkSession. */
  private def offenders(root: Path): Seq[String] =
    sources(root, allowed).flatMap { case (file, src) =>
      mapType.findAllMatchIn(src)
        .filter(m => keyType(src, m.end).contains("SparkSession"))
        .map(m => s"$file:${lineOf(src, m.start)}  ${m.matched}${keyType(src, m.end)}")
    }

  /** `file:line` of every session builder call outside the factory. */
  private def builderSites(root: Path): Seq[String] =
    sources(root, factory).flatMap { case (file, src) =>
      builderCall.findAllMatchIn(src).map(m => s"$file:${lineOf(src, m.start)}")
    }

  test("no map keyed by SparkSession outside core/Memo.scala") {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: $mainRoot")
    val found = offenders(mainRoot)
    assert(found.isEmpty,
      s"session-keyed maps belong in graft.core.Memo:\n${found.mkString("\n")}")
  }

  test("the guard recognizes the declaration shapes it must catch") {
    val dir = Files.createTempDirectory("lint_probe")
    Files.write(dir.resolve("Probe.scala"), Seq(
      "/** a scaladoc",
      "  * block */",
      "object Probe {",
      "  // TrieMap.empty[(SparkSession, String), Int] in a comment is fine",
      "  private val a = scala.collection.concurrent.TrieMap",
      "    .empty[(SparkSession, String), Int]",
      "  private val b = scala.collection.mutable.HashMap",
      "    .empty[(org.apache.spark.sql.SparkSession, Long, Int), List[Int]]",
      "  private val c = new java.util.concurrent.ConcurrentHashMap[SparkSession, Int]()",
      "  private val d = TrieMap.empty[String, SparkSession]",
      "}").asJava)
    val found = offenders(dir)
    assert(found.map(_.takeWhile(_ != ' ')) === Seq("Probe.scala:5", "Probe.scala:7", "Probe.scala:9"),
      found.mkString("\n"))
  }

  test("only core/GraftSession.scala builds a Spark session") {
    assert(Files.isDirectory(mainRoot) && Files.isDirectory(testRoot),
      s"run from the repository root: $mainRoot, $testRoot")
    val found = builderSites(mainRoot) ++ builderSites(testRoot)
    assert(found.isEmpty,
      "build sessions with graft.core.GraftSession (tests: mix in SparkSuite):\n" +
        found.mkString("\n"))
    assert(Files.isRegularFile(mainRoot.resolve(factory)), s"the factory moved: $factory")
  }

  test("the builder guard recognizes the call shapes it must catch") {
    val dir = Files.createTempDirectory("lint_probe")
    val call = "SparkSession" + ".builder()"
    Files.write(dir.resolve("Probe.scala"), Seq(
      s"/** $call in a scaladoc */",
      "object Probe {",
      s"  // $call in a comment is fine",
      s"  val a = $call.getOrCreate()",
      "  val b = org.apache.spark.sql.SparkSession",
      "    .builder().master(\"local[1]\").getOrCreate()",
      "  val c = SparkSession\t.\tbuilder()",
      "  val d = SparkSession.active",
      "}").asJava)
    Files.createDirectories(dir.resolve(factory).getParent)
    Files.write(dir.resolve(factory), Seq(s"object GraftSession { $call }").asJava)
    val found = builderSites(dir)
    assert(found === Seq("Probe.scala:4", "Probe.scala:5", "Probe.scala:7"), found.mkString("\n"))
  }
}
