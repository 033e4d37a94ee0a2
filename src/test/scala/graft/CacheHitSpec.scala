package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.query.{CurationSubmitter, Models, Submitter}
import graft.query.Models._
import graft.registry.{DatasetFormat, DerivedArtifacts, Registry}

/** A small registry with every table kind the engine opens: dimension
  * records (with time zones and units), a mapping, a one-table dataset, a
  * two-table dataset with its lookup, and a pivoted-format dataset. */
object FixtureRegistry {
  def build(spark: SparkSession): Registry = {
    import spark.implicits._
    val reg = Registry(spark, Files.createTempDirectory("graft-fixture-reg").toString)
    Registry.registerDimension(reg, "geography",
      Seq(("c1", "County 1", "America/Denver"), ("c2", "County 2", "America/Denver"),
        ("c3", "County 3", "America/New_York"), ("c4", "County 4", "America/New_York"))
        .toDF("id", "name", "time_zone"))
    Registry.registerDimension(reg, "metric",
      Seq(("elec", "Electricity", "MWh"), ("gas", "Gas", "kWh")).toDF("id", "name", "unit"))
    Registry.registerMapping(reg, "county_to_state",
      Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0), ("c3", "s2", 1.0), ("c4", "s2", 1.0))
        .toDF(FromIdColumn, ToIdColumn, FromFractionColumn))
    Registry.registerDataset(reg, "dsA",
      Seq(("c1", "com", "elec", 1.0), ("c2", "com", "elec", 2.0), ("c3", "res", "gas", 3.0),
        ("c4", "res", "elec", 4.0)).toDF("geography", "sector", "metric", ValueColumn))
    Registry.registerDataset(reg, "dsB",
      Seq((1, 100.0), (2, 200.0)).toDF("id", ValueColumn),
      lookup = Some(Seq((1, "c1", "com", "elec"), (2, "c3", "res", "elec"))
        .toDF("id", "geography", "sector", "metric")))
    Registry.registerDataset(reg, "wide",
      Seq(("c1", "com", 1.0, 10.0), ("c2", "res", 2.0, 20.0)).toDF("geography", "sector", "elec", "gas"),
      format = Some(DatasetFormat("pivoted", Seq("elec", "gas"), "metric")))
    reg
  }

  /** Two datasets through the mapping, aggregated and pivoted by metric. */
  val pivotedQuery: ProjectQuery = ProjectQuery(
    name = "fixture_pivot",
    datasets = DatasetSection(Seq(
      DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))),
      DatasetRef("dsB", Seq(DimensionMappingRef("geography", "county_to_state"))))),
    result = ResultSection(
      aggregations = Seq(Aggregation(Seq("geography", "metric"))),
      pivotDimension = Some("metric"),
      sortBy = Seq("geography")))
}

/** A result-cache hit pays metadata only: the registry token is one
  * `listStatus` walk that hashes to the same string the `listFiles` loops
  * did, and the hit, `validate` and a derived-artifact hit start no Spark
  * job beyond the hit's own read. */
class CacheHitSpec extends SparkSpec {
  import spark.implicits._

  /** The `listFiles` loop the three token functions used to repeat,
    * including the curation input's single-file branch: the reference the
    * token strings must keep matching. */
  private def listFilesToken(path: String): Option[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) None
    else if (fs.getFileStatus(hp).isFile) {
      val st = fs.getFileStatus(hp)
      Some(Models.contentHash(s"${st.getPath}|${st.getLen}|${st.getModificationTime}"))
    } else {
      val it = fs.listFiles(hp, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
      }
      Some(Models.contentHash(entries.sorted.mkString("\n")))
    }
  }

  test("token golden: registry, curation input and registered dataset match the listFiles loop") {
    val reg = FixtureRegistry.build(spark)
    new Submitter(reg, Some(s"${reg.root}/cache")).submit(FixtureRegistry.pivotedQuery).collect()
    assert(reg.contentToken == listFilesToken(reg.root).get)
    for (id <- reg.listDatasets())
      assert(DerivedArtifacts.datasetToken(reg, id) == listFilesToken(s"${reg.root}/datasets/$id").get, id)

    val dataDir = Files.createTempDirectory("graft-token-input").toString
    Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text").repartition(2)
      .write.parquet(s"$dataDir/docs.parquet")
    // a bare parquet file as input: the single-file branch of the old loop
    val firstPart = Files.list(Paths.get(s"$dataDir/docs.parquet")).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.copy(firstPart, Paths.get(s"$dataDir/single.parquet"))
    val sub = new CurationSubmitter(spark, dataDir)
    for (t <- Seq("docs", "single"))
      assert(sub.inputToken(t) == listFilesToken(s"$dataDir/$t.parquet").get, t)
    assert(sub.inputToken("absent") == "missing")
    assert(Registry(spark, s"$dataDir/no_registry").contentToken == "empty")
  }

  test("rewriting one table changes the registry and dataset tokens") {
    val reg = FixtureRegistry.build(spark)
    val (regBefore, dsBefore, otherBefore) =
      (reg.contentToken, DerivedArtifacts.datasetToken(reg, "dsA"), DerivedArtifacts.datasetToken(reg, "dsB"))
    Registry.registerDataset(reg, "dsA",
      Seq(("c1", "com", "elec", 5.0)).toDF("geography", "sector", "metric", ValueColumn))
    assert(reg.contentToken != regBefore)
    assert(DerivedArtifacts.datasetToken(reg, "dsA") != dsBefore)
    assert(DerivedArtifacts.datasetToken(reg, "dsB") == otherBefore)
    assert(reg.contentToken == listFilesToken(reg.root).get)
  }

  test("a FileCache hit runs exactly one Spark job: the read of its result") {
    val reg = FixtureRegistry.build(spark)
    val dir = Files.createTempDirectory("graft-hit-cache").toString
    val q = FixtureRegistry.pivotedQuery
    val miss = new Submitter(reg, Some(dir)).submit(q).collect()
    var hit: Array[org.apache.spark.sql.Row] = null
    val jobs = countJobs { hit = new Submitter(reg, Some(dir)).submit(q).collect() }
    assert(hit.toSeq == miss.toSeq)
    assert(jobs == 1L, s"a cache hit ran $jobs jobs; only the collect of the cached result should run")
  }

  test("Submitter.validate runs no Spark job") {
    val reg = FixtureRegistry.build(spark)
    val sub = new Submitter(reg)
    val q = FixtureRegistry.pivotedQuery.copy(datasets = DatasetSection(
      FixtureRegistry.pivotedQuery.datasets.datasets :+ DatasetRef("wide")))
    assert(countJobs(sub.validate(q)) == 0L)
    assert(countJobs(sub.validate(DatasetQuery("one", DatasetRef("dsB"), ResultSection()))) == 0L)
  }

  test("a DerivedArtifacts.resolve hit runs no Spark job") {
    val reg = FixtureRegistry.build(spark)
    def build() = reg.dataset("dsA").select(col("geography"), (col(ValueColumn) * 2).as("twice"))
    val built = DerivedArtifacts.resolve(reg, "dsA__twice", "dsA", "v1")(build())
    var again: org.apache.spark.sql.DataFrame = null
    val jobs = countJobs {
      again = DerivedArtifacts.resolve(reg, "dsA__twice", "dsA", "v1")(
        sys.error("build thunk must not run on a provenance hit"))
    }
    assert(jobs == 0L, s"a resolve hit ran $jobs jobs")
    assert(sortedRows(again) == sortedRows(built))
  }
}
