package graft

import java.nio.file.Files
import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.queries.Tables

/** `Tables` builds a fixture read from one driver-side footer read: no
  * Spark job, and the schema Spark's inference job would have found. */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Reads `<dir>/<name>.parquet` through `Tables`: asserts that building
    * it started no job and that its scan has the inferred schema. */
  private def jobless(dir: String, name: String): DataFrame = {
    var df: DataFrame = null
    assert(jobsStartedBy { df = Tables(spark, dir, name) } == 0, name)
    val scan = df.queryExecution.analyzed.collectLeaves().head.schema
    assert(scan == spark.read.parquet(s"$dir/$name.parquet").schema, name)
    df
  }

  test("every fixture table is built without a Spark job, with the inferred schema") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(jobless(sf, _))
    // the probe sees jobs: the schema-less read runs Spark's inference job
    assert(jobsStartedBy(spark.read.parquet(s"$sf/region.parquet")) >= 1)
  }

  test("a directory table with several part files and a _SUCCESS marker") {
    val dir = Files.createTempDirectory("tables_dir").toString
    spark.range(0, 100, 1, 4)
      .selectExpr("id", "cast(id AS string) AS s", "cast(id AS decimal(12, 2)) AS d")
      .write.parquet(s"$dir/t.parquet")
    val names = new java.io.File(s"$dir/t.parquet").list().toSet
    assert(names("_SUCCESS") && names.count(_.endsWith(".parquet")) == 4, names)
    val df = jobless(dir, "t")
    assert(df.selectExpr("sum(id)", "count(DISTINCT s)", "sum(d)").head().toSeq ==
      Seq(4950L, 100L, new java.math.BigDecimal("4950.00")))
  }

  test("events with ts as TIMESTAMP(MICROS) leaves the session's nanosAsLong conf unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val df = jobless(sf, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(!spark.sessionState.conf.contains(key))
  }

  test("events with ts as TIMESTAMP(NANOS): a session-zone timestamp truncated to micros") {
    val dir = Files.createTempDirectory("tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1700000000123456789L, 1700000001000000999L, -1001L)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      nanos.zipWithIndex.foreach { case (ns, i) =>
        writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns))
      }
    } finally writer.close()

    // as in a fresh session: Tables must set the legacy conf itself,
    // before the footer conversion reads it
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val df = jobless(dir, "events")
    assert(df.queryExecution.analyzed.collectLeaves().head.schema("ts").dataType == LongType)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.orderBy("event_id").collect().map(_.getTimestamp(1).toInstant).toSeq
    // `ts div 1000` truncates toward zero, also before the epoch
    assert(got == nanos.map(ns => Instant.EPOCH.plus(ns / 1000, ChronoUnit.MICROS)))
  }
}
