package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the single lifetime mechanism: session-keyed state
  * lives in `graft.core.Memo`, which sweeps a stopped session's entries
  * and knows which entries survive an invalidation. A hand-rolled map
  * keyed by `SparkSession` anywhere else would hold stopped sessions for
  * the life of the JVM. Reads source text only — starts no Spark session. */
class SessionKeyedMapLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val allowed = Paths.get("graft/core/Memo.scala")
  private val mapType = raw"\b(?:TrieMap|HashMap|ConcurrentHashMap)\s*(?:\.\s*empty\s*)?\[".r

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

  /** `file:line  declaration` for every map whose key type names SparkSession. */
  private def offenders(root: Path): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator().asScala.toList
      .filter(p => p.toString.endsWith(".scala") && root.relativize(p) != allowed)
      .flatMap { p =>
        val src = stripComments(new String(Files.readAllBytes(p), "UTF-8"))
        mapType.findAllMatchIn(src)
          .filter(m => keyType(src, m.end).contains("SparkSession"))
          .map { m =>
            val line = src.substring(0, m.start).count(_ == '\n') + 1
            s"${root.relativize(p)}:$line  ${m.matched}${keyType(src, m.end)}"
          }
      }
    finally files.close()
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
}
