package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.functions.PathFunctions._

/** The §2.7 path-function matrix: win paths, nix paths, drive roots,
  * trailing slashes, dotless names, unicode — Column impls and their
  * pure-Scala twins must agree (the reference keeps the same dual
  * SQL/Python surface in sync: SQLUtil.py:163,182 ↔ API/Util.py:37,52). */
class PathFunctionsSpec extends AnyFunSuite with SparkSuite {

  private def samples[T](g: Gen[T], n: Int = 200): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(i.toLong)))

  private def evalCol(fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                      input: String): String = {
    val s = spark
    import s.implicits._
    Seq(input).toDF("p").select(fn(col("p")).as("r")).head().getString(0)
  }

  // (path, basepath, basename) — expectations follow the reference's
  // regex semantics incl. quirks (drive-root keeps backslash; a path with
  // no parent returns itself)
  private val cases = Seq(
    ("C:\\Windows\\calc.exe", "C:\\Windows", "calc.exe"),
    ("C:\\pagefile.sys", "C:\\", "pagefile.sys"),
    ("/home/user/file.txt", "/home/user", "file.txt"),
    // single-segment quirk: regex needs a char BEFORE the separator, so a
    // root-level path is its own parent and its own basename
    ("/home", "/home", "/home"),
    ("/a/b/c", "/a/b", "c"),
    ("relative/path.txt", "relative", "path.txt"),
    ("noslash.txt", "noslash.txt", "noslash.txt"),
    ("/home/ünïcôde/фаил.txt", "/home/ünïcôde", "фаил.txt"))

  test("basepath matrix — Column and Scala twins agree with expectations") {
    cases.foreach { case (p, expParent, _) =>
      assert(basepathScala(p) === expParent, s"scala basepath($p)")
      assert(evalCol(basepath, p) === expParent, s"column basepath($p)")
    }
  }

  test("basename matrix") {
    cases.foreach { case (p, _, expBase) =>
      assert(basenameScala(p) === expBase, s"scala basename($p)")
      assert(evalCol(basename, p) === expBase, s"column basename($p)")
    }
  }

  test("extension: lower-cased suffix; dotless name returned whole (reference quirk)") {
    val exp = Seq("calc.EXE" -> "exe", "a.tar.gz" -> "gz", "noext" -> "noext",
      "UPPER" -> "upper",
      // leading-dot quirk: `^.+\.` needs a char before the dot → unchanged
      ".hidden" -> ".hidden")
    exp.foreach { case (in, out) =>
      assert(evalCol(extension, in) === out, s"extension($in)")
    }
  }

  test("strip_trailing_slashes keeps drive roots") {
    val exp = Seq("/home/test/" -> "/home/test", "/home/test///" -> "/home/test",
      "C:\\" -> "C:", "/" -> "", "  /a/b/  " -> "/a/b", "plain" -> "plain")
    exp.foreach { case (in, out) =>
      assert(stripTrailingSlashesScala(in) === out, s"scala strip($in)")
      assert(evalCol(stripTrailingSlashes, in) === out, s"column strip($in)")
    }
  }

  test("wildcard translation: * ? mapped, SQL metachars escaped") {
    assert(parseWildcardSearch("file*.tx?") === "file%.tx_")
    assert(parseWildcardSearch("100%_done*") === "100\\%\\_done%")
    assert(parseWildcardSearch("C:\\dir\\*") === "C:\\\\dir\\\\%")
  }

  test("path OS classification") {
    val exp = Seq("/usr/bin" -> "nix", "C:\\Windows" -> "win",
      "a/b" -> "nix?", "a\\b" -> "win?", "ambiguous" -> "")
    exp.foreach { case (in, out) =>
      assert(evalCol(pathOs, in) === out, s"pathOs($in)")
    }
  }

  test("property: pathJoin(basepath(p), basename(p)) == p for nix file paths") {
    val seg = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val pathGen = for {
      segs <- Gen.nonEmptyListOf(seg)
      leaf <- seg
    } yield ("/" + (segs :+ leaf).mkString("/"))
    samples(pathGen).foreach { p =>
      val rejoined = basepathScala(p) + "/" + basenameScala(p)
      // paths with a single segment have themselves as parent (quirk):
      // "/a" -> parent "/a", join gives "/a/a" — excluded by construction
      if (p.count(_ == '/') >= 2) assert(rejoined === p)
    }
  }

  test("property: Column twins agree with Scala twins on random paths") {
    val s = spark
    import s.implicits._
    val weird = Gen.oneOf(
      Gen.alphaNumStr.map("/" + _),
      Gen.alphaNumStr.map("C:\\" + _),
      Gen.alphaNumStr, Gen.const(""), Gen.const("/"), Gen.const("C:\\"))
    val inputs = samples(weird).distinct
    val colResults = inputs.toDF("p")
      .select(col("p"), basepath(col("p")).as("bp"), basename(col("p")).as("bn"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    inputs.foreach { p =>
      assert(colResults(p)._1 === basepathScala(p), s"basepath($p)")
      assert(colResults(p)._2 === basenameScala(p), s"basename($p)")
    }
  }
}
