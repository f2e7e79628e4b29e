package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounter, SparkTestSession}

/** [[Tables]] infers each parquet schema once per session and listing:
  * a repeated read launches no schema-inference job and yields the
  * schema Spark's own inference gives; a rewritten table, a changed
  * parquet reader conf and a stopped session each drop the entry.
  */
class SchemaMemoSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(): String =
    Files.createTempDirectory("schema_memo").toString

  test("a second Tables.apply of the same file launches 0 jobs and " +
       "keeps Spark's inferred schema") {
    val dir = tmpDir()
    spark.range(20).selectExpr("id", "cast(id AS string) AS s", "id * 0.5 AS x")
      .write.parquet(s"$dir/t.parquet")
    val first = Tables(spark, dir, "t")
    val (second, jobs) = JobCounter(spark)(Tables(spark, dir, "t"))
    assert(jobs.isEmpty, s"memoized read launched ${jobs.size} jobs")
    assert(second.get.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(second.get.schema == first.schema)
    assert(second.get.collect().toSet == first.collect().toSet)
    // the parent behaviour this replaces: an un-memoized read infers
    // with a job every time
    assert(JobCounter.count(spark)(spark.read.parquet(s"$dir/t.parquet")) > 0)
  }

  test("a table rewritten at the same path with a different schema " +
       "gets the new schema") {
    val dir = tmpDir()
    val path = s"$dir/t.parquet"
    spark.range(5).selectExpr("id").write.parquet(path)
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("id"))
    spark.range(5).selectExpr("cast(id AS string) AS name", "id * 2.0 AS v")
      .write.mode("overwrite").parquet(path)
    val back = Tables(spark, dir, "t")
    assert(back.schema == spark.read.parquet(path).schema)
    assert(back.schema.fieldNames.toSeq == Seq("name", "v"))
    assert(back.count() == 5)
  }

  test("a changed parquet reader conf re-infers") {
    // a file without Spark's schema footer (Spark's own writer always
    // adds one, and inference then ignores the reader confs): one BINARY
    // column with no string annotation, read as binary or as string
    // depending on spark.sql.parquet.binaryAsString
    val dir = tmpDir()
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(Tables(s2, dir, "t").schema("b").dataType.typeName == "binary")
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables(s2, dir, "t").schema("b").dataType.typeName == "string")
  }

  test("a stopped session's entries are dropped on the next read") {
    val dir = tmpDir()
    spark.range(3).write.parquet(s"$dir/t.parquet")
    val dead = scala.collection.mutable.Set.empty[SparkSession]
    val memo = new SchemaMemo(stopped = s => dead.contains(s))
    val s2 = spark.newSession()
    memo.read(s2, s"$dir/t.parquet")
    memo.read(spark, s"$dir/t.parquet")
    assert(memo.entryCount(s2) == 1)
    dead += s2
    memo.read(spark, s"$dir/t.parquet")
    assert(memo.entryCount(s2) == 0)
    assert(memo.entryCount(spark) == 1)
  }

  test("a missing table fails with Spark's own error") {
    val dir = tmpDir()
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables(spark, dir, "absent"))
    assert(e.getMessage.contains("absent.parquet"))
  }
}
