package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.registry.{DatasetFormat, Registry}

/** Registry objects publish whole: a registration writes the object's
  * directory (tables and sidecars) beside the old one and one rename makes
  * it visible. So a re-registration may read the object's own registered
  * table, keeps no table or sidecar of the version it replaces, a failed
  * write leaves the old version, and an unfinished publish is never
  * listed. */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def registry(): Registry = Registry(spark, Files.createTempDirectory("graft-publish").toString)

  private def load = Seq(("c1", "com", 1.0), ("c2", "res", 2.0), ("c3", "com", 3.0))
    .toDF("geography", "sector", ValueColumn)

  test("re-registering a dataset from its own registered table keeps its rows") {
    val reg = registry()
    Registry.registerDataset(reg, "ds", load)
    Registry.registerDataset(reg, "ds", reg.loadData("ds"))
    assert(sortedRows(reg.dataset("ds")) == sortedRows(load))
  }

  test("re-registering a dimension and a mapping from their own registered tables keeps their rows") {
    val reg = registry()
    val records = Seq(("c1", "C1"), ("c2", "C2")).toDF("id", "name")
    val table = Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn)
    Registry.registerDimension(reg, "geo", records)
    Registry.registerDimension(reg, "geo", reg.dimensionRecords("geo"))
    Registry.registerMapping(reg, "c2s", table)
    Registry.registerMapping(reg, "c2s", reg.mapping("c2s"))
    assert(sortedRows(reg.dimensionRecords("geo")) == sortedRows(records))
    assert(sortedRows(reg.mapping("c2s")) == sortedRows(table))
  }

  test("a subset dimension re-registered as base reads base") {
    val reg = registry()
    val records = Seq(("c1", "C1")).toDF("id", "name")
    Registry.registerDimension(reg, "geo", records, category = "subset")
    assert(reg.dimensionCategory("geo") == "subset")
    Registry.registerDimension(reg, "geo", records)
    assert(reg.dimensionCategory("geo") == "base")
  }

  test("a two-table dataset re-registered as one table reads without a lookup") {
    val reg = registry()
    Registry.registerDataset(reg, "ds", Seq((1L, 1.0), (2L, 2.0)).toDF("id", ValueColumn),
      lookup = Some(Seq((1L, "c1"), (2L, "c2")).toDF("id", "geography")))
    assert(reg.dataset("ds").count() == 2)
    Registry.registerDataset(reg, "ds", load)
    assert(reg.lookup("ds").isEmpty)
    assert(sortedRows(reg.dataset("ds")) == sortedRows(load))
  }

  test("a pivoted dataset re-registered as stacked reads stacked") {
    val reg = registry()
    Registry.registerDataset(reg, "ds", Seq(("c1", 1.0, 2.0)).toDF("geography", "heat", "cool"),
      format = Some(DatasetFormat("pivoted", Seq("heat", "cool"), "metric")))
    assert(reg.dataset("ds").count() == 2)
    Registry.registerDataset(reg, "ds", load)
    assert(reg.datasetFormat("ds").isEmpty)
    assert(sortedRows(reg.dataset("ds")) == sortedRows(load))
  }

  test("a registration whose write fails keeps the previous version and leaves no temp dir") {
    val reg = registry()
    Registry.registerDataset(reg, "ds", load)
    // over a parquet scan, so the error fails the write job itself (a
    // local relation's projection would fail at planning, before any write)
    val failing = viaParquet(load).withColumn(ValueColumn,
      when(col("geography") === "c2", raise_error(lit("boom"))).otherwise(col(ValueColumn)))
    intercept[Exception](Registry.registerDataset(reg, "ds", failing, validate = false))
    assert(sortedRows(reg.dataset("ds")) == sortedRows(load))
    assert(new File(s"${reg.root}/datasets").list().toSeq == Seq("ds"))
  }

  test("a publish temp dir under datasets/ is not listed") {
    val reg = registry()
    Registry.registerDataset(reg, "ds", load)
    load.write.parquet(s"${reg.root}/datasets/.tmp_ds2_0123abcd/load_data.parquet")
    assert(reg.listDatasets() == Seq("ds"))
  }
}
