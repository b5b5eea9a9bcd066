package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DatasetIO

/** JSONL/CSV ingestion with quarantine, and bounded-shard partitioned
  * output: nothing lost, nothing silently dropped. */
class DatasetIOSpec extends AnyFunSuite with SparkSuite {

  test("jsonl: valid rows parse, malformed and null-key lines quarantine with the raw line") {
    val dir = Files.createTempDirectory("graft_jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}""",
      """{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}""",
      """not json at all""",
      """{"text": "missing id", "lang": "en", "source": "web", "n_chars": 10}""",
      """{"doc_id": 5, "lang": "en", "source": "web", "n_chars": 0}""")
    Files.write(dir.resolve("part0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val (valid, rejects) = DatasetIO.readDocumentsJsonl(spark, dir.toString)
    assert(valid.columns.toSeq === Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(valid.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    val bad = rejects.collect().map(_.getString(0)).toSet
    assert(bad.size === 3 && bad.contains("not json at all"))
  }

  test("jsonl: gzip input reads transparently (codec inference)") {
    val dir = Files.createTempDirectory("graft_jsonl_gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("part0.jsonl.gz")))
    gz.write(
      """{"doc_id": 9, "text": "zipped", "lang": "en", "source": "web", "n_chars": 6}"""
        .getBytes("UTF-8"))
    gz.close()
    val (valid, rejects) = DatasetIO.readDocumentsJsonl(spark, dir.toString)
    assert(valid.collect().map(_.getLong(0)).toSeq === Seq(9L))
    assert(rejects.count() === 0)
  }

  test("streaming jsonl: same parse/flag contract, incremental files") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_jsonl_stream")
    val stream = DatasetIO.streamDocumentsJsonl(spark, dir.toString)
    val query = stream.writeStream.format("memory")
      .queryName("docs_in").outputMode("append").start()
    try {
      Files.write(dir.resolve("a.jsonl"),
        ("""{"doc_id": 1, "text": "one", "lang": "en", "source": "w", "n_chars": 3}""" +
          "\nbroken line").getBytes("UTF-8"))
      query.processAllAvailable()
      Files.write(dir.resolve("b.jsonl"),
        """{"doc_id": 2, "text": "two", "lang": "fr", "source": "w", "n_chars": 3}"""
          .getBytes("UTF-8"))
      query.processAllAvailable()
      val rows = spark.table("docs_in").collect()
      assert(rows.count(_.getAs[Boolean]("is_valid")) === 2)
      assert(rows.count(!_.getAs[Boolean]("is_valid")) === 1)
      assert(rows.filter(_.getAs[Boolean]("is_valid"))
        .map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L))
    } finally query.stop()
  }

  test("csv: header parsed, corrupt row quarantined") {
    val dir = Files.createTempDirectory("graft_csv")
    Files.write(dir.resolve("d.csv"),
      ("doc_id,text,lang,source,n_chars\n" +
        "1,alpha,en,web,5\n" +
        "oops,not,a,valid,row,extra,cols\n" +
        "2,beta,fr,web,4\n").getBytes("UTF-8"))
    val (valid, rejects) = DatasetIO.readDocumentsCsv(spark, dir.toString)
    assert(valid.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(rejects.count() === 1)
  }

  test("writeShards: partition dirs + bounded shard files, content round-trips") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).map(i => (i, s"doc $i", if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "text", "lang")
    val out = Files.createTempDirectory("graft_shards").toString
    DatasetIO.writeShards(df, out, Seq("lang"), maxRecordsPerFile = 10L)
    val back = spark.read.parquet(out)
    assert(back.count() === 100)
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet === (1L to 100L).toSet)
    val enFiles = new java.io.File(s"$out/lang=en").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(enFiles >= 5, s"50 rows at <=10/file must spread over >=5 shards, got $enFiles")
  }
}
