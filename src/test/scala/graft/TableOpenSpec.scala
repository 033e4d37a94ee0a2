package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.query.Submitter
import graft.sources.Readers

/** `Readers.parquet` opens every table with the schema and rows that
  * `spark.read.parquet` gives it: from one footer's Spark schema for flat
  * Spark-written directories (without a schema-inference job), through the
  * inferring read for everything else. */
class TableOpenSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertSameOpen(path: String): Unit = {
    val opened = Readers.parquet(spark, path)
    val inferred = spark.read.parquet(path)
    assert(opened.schema == inferred.schema, path)
    assert(sortedRows(opened) == sortedRows(inferred), path)
  }

  /** Spark-written flat directories take the footer path: no job. */
  private def assertFooterOpen(path: String): Unit = {
    assert(Readers.footerSchema(spark, path).isDefined, path)
    assert(countJobs(Readers.parquet(spark, path)) == 0L, path)
    assertSameOpen(path)
  }

  test("every table of a registered fixture registry opens as spark.read.parquet does") {
    val reg = FixtureRegistry.build(spark)
    val paths = Files.walk(Paths.get(reg.root)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
    // 2 dimensions, 1 mapping, 3 datasets (one with a lookup)
    assert(paths.size == 7, paths)
    paths.foreach(assertFooterOpen)
  }

  test("a pivoted FileCache entry opens as spark.read.parquet does") {
    val reg = FixtureRegistry.build(spark)
    val dir = tmp("graft-open-cache")
    new Submitter(reg, Some(dir)).submit(FixtureRegistry.pivotedQuery).collect()
    val tables = Files.list(Paths.get(s"$dir/cached_tables")).iterator().asScala
      .map(e => s"$e/table.parquet").filter(p => Files.isDirectory(Paths.get(p))).toSeq
    assert(tables.nonEmpty)
    tables.foreach(assertFooterOpen)
    val pivoted = tables.map(spark.read.parquet(_)).find(_.columns.contains("elec"))
    assert(pivoted.isDefined, "the pivoted result entry")
  }

  test("an empty DataFrame write opens as spark.read.parquet does") {
    val path = s"${tmp("graft-open-empty")}/t.parquet"
    Seq.empty[(Long, String)].toDF("id", "s").write.parquet(path)
    assertSameOpen(path)
    assert(Readers.parquet(spark, path).columns.toSeq == Seq("id", "s"))
  }

  test("timestamp, long, double, nullable string and nested columns keep type and nullability") {
    val path = s"${tmp("graft-open-types")}/t.parquet"
    Seq(
      (java.sql.Timestamp.valueOf("2018-01-01 00:00:00"), 1L, 1.5, Some("a")),
      (java.sql.Timestamp.valueOf("2018-07-01 12:30:00"), 2L, -2.5, None))
      .toDF("timestamp", "id", "value", "label")
      .withColumn("arr", array(col("id"), lit(null).cast("long")))
      .withColumn("kv", map(col("id"), col("label")))
      .withColumn("st", struct(col("id").as("inner"), col("label")))
      .repartition(2)
      .write.parquet(path)
    // the footer declares the long and double columns non-nullable; the
    // opened schema must still be all-nullable, as the inferred one is
    assert(Readers.footerSchema(spark, path).get.exists(!_.nullable))
    assertFooterOpen(path)
  }

  test("fallback: parquet written without Spark metadata") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val path = s"${tmp("graft-open-plain")}/t.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); optional double v; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try {
      writer.write(groups.newGroup().append("id", 1L).append("name", "a").append("v", 0.5))
      writer.write(groups.newGroup().append("id", 2L))
    } finally writer.close()
    assert(Readers.footerSchema(spark, path).isEmpty)
    assertSameOpen(path)
  }

  test("fallback: a Hive-partitioned directory keeps its partition columns") {
    val path = s"${tmp("graft-open-hive")}/t.parquet"
    Seq((1L, "x", 2018), (2L, "y", 2019), (3L, "z", 2019)).toDF("id", "s", "year")
      .write.partitionBy("year").parquet(path)
    assert(Readers.footerSchema(spark, path).isEmpty)
    assertSameOpen(path)
    assert(Readers.parquet(spark, path).columns.contains("year"))
  }

  test("fallback: a missing path throws what spark.read.parquet throws") {
    val path = s"${tmp("graft-open-missing")}/absent.parquet"
    assert(Readers.footerSchema(spark, path).isEmpty)
    val expected = intercept[Exception](spark.read.parquet(path))
    val got = intercept[Exception](Readers.parquet(spark, path))
    assert(got.getClass == expected.getClass)
  }
}
