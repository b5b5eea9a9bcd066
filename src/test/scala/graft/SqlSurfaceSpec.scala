package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables.FsCatalog
import graft.functions.PathFunctions
import graft.operators.{SearchOps, Views}

/** Name-parity SQL surface: a reference user's raw SQL — Postgres view
  * names (`vw_ll`, `vw_file_detail`, `dir_detail`), function names
  * (`basename`, `basepath`, `extension`), and the native `*_fast`
  * extensions — must run through `spark.sql` unchanged and agree with
  * the operator API. */
class SqlSurfaceSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    PathFunctions.registerSql(spark)
    Views.registerAll(
      FsCatalog.directory(spark, sfDir), FsCatalog.file(spark, sfDir),
      FsCatalog.hash(spark, sfDir), FsCatalog.fileCategory(spark))
  }

  test("search_name as raw SQL over vw_ll equals the operator result") {
    val sql = spark.sql(
      "SELECT full_path FROM vw_ll WHERE name LIKE '%a%' OR basename(dir_path) LIKE '%a%'")
      .collect().map(_.getString(0)).sorted
    val op = SearchOps.searchName(spark.table("vw_ll"), "%a%")
      .select("full_path").collect().map(_.getString(0)).sorted
    assert(sql.nonEmpty)
    assert(sql === op)
  }

  test("dir_detail view answers aggregate SQL; native *_fast functions resolve") {
    val n = spark.sql("SELECT count(*) FROM dir_detail WHERE files > 0").head().getLong(0)
    assert(n > 0)
    val fast = spark.sql(
      "SELECT count(*) FROM vw_ll WHERE basename_fast(full_path) = basename(full_path)")
      .head().getLong(0)
    val total = spark.table("vw_ll").count()
    assert(fast === total) // byte-identical twins over the whole catalog
  }

  test("duplicate-search SQL over vw_file_detail matches the flagship operator") {
    val path = spark.sql(
      """SELECT dir_path || '/' || name FROM vw_file_detail
        |WHERE sha1_hash IS NOT NULL ORDER BY id LIMIT 1""".stripMargin)
      .head().getString(0)
    val sql = spark.sql(
      s"""SELECT h.id FROM vw_file_detail h
         |JOIN (SELECT DISTINCT sha1_hash, size FROM vw_file_detail
         |      WHERE dir_path || '/' || name = '$path') n
         |  ON h.sha1_hash = n.sha1_hash AND h.size = n.size""".stripMargin)
      .collect().map(_.getLong(0)).sorted
    val op = SearchOps.searchDuplicateFileSimple(spark.table("vw_file_detail"), path)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(sql.nonEmpty)
    assert(sql === op)
  }
}
