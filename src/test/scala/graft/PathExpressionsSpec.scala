package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PathExpressions, PathFunctions}

/** The native codegen expressions must be BYTE-IDENTICAL to the regex
  * twins on every input class (the twins define the oracle semantics). */
class PathExpressionsSpec extends AnyFunSuite with SparkSuite {

  private val inputs = Seq(
    "C:\\Windows\\calc.exe", "C:\\pagefile.sys", "C:\\", "C:",
    "/home/user/file.txt", "/home", "/", "", "a", "a/b", "a\\b",
    "/a/b/", "//x", "\\\\server\\share\\f.txt", "/home/ünïcôde/фаил.txt",
    "relative/path.txt", "noslash.txt", "/a//b", "x:/y", ":",
    "trailing/sep/", "/.hidden", "..", "/..",
    // newlines are legal in POSIX names: the (?s)…\z regex twins must keep
    // agreeing with the byte scan across and around them
    "a\nb/c", "/dir/na\nme.txt", "weird\n/x\ny/z", "/a/b\n", "\n", "a/\nb")

  test("native expressions equal regex twins on the full input matrix") {
    val s = spark
    import s.implicits._
    val df = inputs.toDF("p").select(
      col("p"),
      PathFunctions.basepath(col("p")).as("bp_regex"),
      PathExpressions.basepathFast(col("p")).as("bp_fast"),
      PathFunctions.basename(col("p")).as("bn_regex"),
      PathExpressions.basenameFast(col("p")).as("bn_fast"))
    df.collect().foreach { r =>
      assert(r.getString(1) === r.getString(2), s"basepath mismatch for '${r.getString(0)}'")
      assert(r.getString(3) === r.getString(4), s"basename mismatch for '${r.getString(0)}'")
    }
  }

  test("expressions run inside whole-stage codegen") {
    // needs a real (non-local) scan — local relations are evaluated
    // driver-side with no codegen stage at all
    val df = graft.core.Tables.FsCatalog.directory(spark, "/root/testdata/sf0.001")
      .select(PathExpressions.basepathFast(col("dir_path")).as("bp"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen span:\n$plan")
  }

  test("SQL registration via SparkSessionExtensions") {
    val s = spark
    import s.implicits._
    inputs.toDF("p").createOrReplaceTempView("paths")
    val rows = spark.sql(
      "SELECT p, basepath_fast(p) AS bp, basename_fast(p) AS bn FROM paths").collect()
    rows.foreach { r =>
      assert(r.getString(1) === PathFunctions.basepathScala(r.getString(0)))
      assert(r.getString(2) === PathFunctions.basenameScala(r.getString(0)))
    }
    // the similarity/text natives register too
    val jw = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS j, ws_token_count('a b  c') AS n")
      .collect().head
    assert(math.abs(jw.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(jw.getInt(1) === 3)
    val wn = spark.sql("SELECT winnow_select('abcdefgh', 3, 2) AS fps").collect().head
    assert(wn.getSeq[Long](0).nonEmpty)
  }

  test("null propagates (nullIntolerant)") {
    val s = spark
    import s.implicits._
    val r = Seq(Option.empty[String]).toDF("p")
      .select(PathExpressions.basepathFast(col("p"))).head()
    assert(r.isNullAt(0))
  }
}
