package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sources.{Readers, Writers}

/** The schemas [[Readers]] resolve on the driver equal what
  * `spark.read` infers, and resolving them starts no Spark job.
  */
class ReadersSpec extends SparkSpec {

  private def dirWith(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_readers_spec")
    files.foreach { case (name, text) => Files.write(dir.resolve(name), text.getBytes("UTF-8")) }
    dir.toString
  }

  /** Spark's own read of `path` with [[Readers.csv]]'s options and no schema. */
  private def sparkCsv(path: String, header: Boolean = true, multiLine: Boolean = true): DataFrame =
    spark.read.options(Readers.csvOptions(header = header, multiLine = multiLine)).csv(path)

  private def assertCsvParity(path: String, header: Boolean = true): Unit =
    Seq(true, false).foreach { multiLine =>
      val ours = Readers.csv(spark, path, header = header, multiLine = multiLine)
      val theirs = sparkCsv(path, header, multiLine)
      assert(ours.schema === theirs.schema, s"multiLine=$multiLine")
      assert(ours.collect().toSeq.map(_.toString).sorted ===
        theirs.collect().toSeq.map(_.toString).sorted, s"multiLine=$multiLine")
    }

  test("parquet: driver schema equals spark.read's on every sf0.001 table") {
    Tables.all.foreach { t =>
      val p = s"${sf()}/$t.parquet"
      assert(Readers.parquet(spark, p).schema === spark.read.parquet(p).schema, t)
    }
    assert(Tables.embeddings(spark, sf()).schema.exists(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }))
  }

  test("parquet: a TIMESTAMP(NANOS) column reads as spark.read reads it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,false)); required int64 id; }")
    val file = s"${Files.createTempDirectory("graft_readers_nanos")}/t.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("id", 1L))
    finally w.close()
    val ours = Readers.parquet(spark, file)
    val theirs = spark.read.parquet(file)
    assert(ours.schema === theirs.schema)
    // long ns under the session's nanosAsLong, as Tables.events expects
    assert(ours.schema("ts").dataType === LongType)
    assert(ours.collect().toSeq === theirs.collect().toSeq)
  }

  test("parquet: a parquetByYear output keeps its int partition column") {
    val out = Files.createTempDirectory("graft_readers_year").resolve("orders").toString
    Writers.parquetByYear(Tables.orders(spark, sf()).limit(300), out, "o_orderdate")
    val names = Files.walk(Paths.get(out)).toArray.map(_.toString.split('/').last)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names.mkString(","))
    val ours = Readers.parquet(spark, out)
    val theirs = spark.read.parquet(out)
    assert(ours.schema === theirs.schema)
    assert(ours.schema("year_partition").dataType === IntegerType)
    assert(ours.count() === 300L && theirs.count() === 300L)
  }

  test("csv: headed files, multiLine on and off, give spark.read's schema and rows") {
    assertCsvParity(dirWith(
      "a.csv" -> "id,name,note\n1,alpha,\"two\nlines\"\n2,beta,plain\n",
      "b.csv" -> "id,name,note\n3,gamma,\"x, y\"\n"))
  }

  test("csv: a directory whose first file is empty takes the header of the next") {
    assertCsvParity(dirWith("a.csv" -> "", "b.csv" -> "\n\nx,y\n1,2\n"))
  }

  test("csv: blank and duplicate header names are named as Spark names them") {
    val dir = dirWith("a.csv" -> "a,,a, ,B,b\n1,2,3,4,5,6\n")
    assertCsvParity(dir)
    val names = Readers.csv(spark, dir).columns
    assert(names.distinct.length === names.length, names.mkString(","))
    assertCsvParity(dir, header = false)
  }

  test("a missing path gives spark.read's exception class") {
    val missing = s"${Files.createTempDirectory("graft_readers_missing")}/nothing_here"
    val ours = intercept[Exception](Readers.parquet(spark, missing))
    assert(ours.getClass === intercept[Exception](spark.read.parquet(missing)).getClass)
    val oursCsv = intercept[Exception](Readers.csv(spark, missing))
    assert(oursCsv.getClass === intercept[Exception](sparkCsv(missing)).getClass)
  }

  test("building a plan starts no Spark job: Readers.parquet, Readers.csv, Tables.load") {
    def jobs(build: => DataFrame): Int = Probe.jobsStarted(spark)(build)._2
    val csvDir = dirWith("a.csv" -> "k,v\n1,2\n")
    assert(Seq(
      jobs(Readers.parquet(spark, s"${sf()}/orders.parquet")),
      jobs(Readers.csv(spark, csvDir)),
      jobs(Readers.csv(spark, csvDir, multiLine = false)),
      jobs(Tables.load(spark, sf(), "lineitem"))) === Seq(0, 0, 0, 0))
    // the counter sees the job Spark's own inference starts
    assert(jobs(spark.read.parquet(s"${sf()}/orders.parquet")) >= 1)
    assert(jobs(sparkCsv(csvDir)) >= 1)
  }
}
