package graft

import java.nio.file.Files
import graft.core.Constants._
import graft.registry.Registry

class CliSpec extends SparkSpec {
  import spark.implicits._

  test("query project runs a JSON document end-to-end and writes parquet + sidecar") {
    val root = Files.createTempDirectory("graft-cli-reg").toString
    val reg = Registry(spark, root)
    Registry.registerDataset(reg, "ds",
      Seq(("a", 1.0), ("a", 2.0), ("b", 4.0)).toDF("geography", ValueColumn))
    val queryFile = Files.createTempFile("graft-cli", ".json")
    Files.writeString(queryFile, """{
      // cli spec query
      "name": "cli_q",
      "datasets": {"datasets": [{"dataset_id": "ds"}]},
      "result": {"aggregations": [{"group_by": ["geography"]}], "sort_by": ["geography"]}
    }""")
    val outDir = Files.createTempDirectory("graft-cli-out").toString
    Cli.main(Array("query", "project", root, queryFile.toString, outDir))
    val back = spark.read.parquet(s"$outDir/cli_q.parquet")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)
    assert(back == Seq(("a", 3.0), ("b", 4.0)))
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/query.json")))
  }

  test("query with a file: URI outDir writes query.json beside the result") {
    val root = Files.createTempDirectory("graft-cli-uri-reg").toString
    Registry.registerDataset(Registry(spark, root), "ds", Seq(("a", 1.0)).toDF("geography", ValueColumn))
    val queryFile = Files.createTempFile("graft-cli-uri", ".json")
    Files.writeString(queryFile, """{"name": "uri_q", "datasets": {"datasets": [{"dataset_id": "ds"}]}}""")
    val outDir = Files.createTempDirectory("graft-cli-uri-out").toString
    assert(Cli.run(Array("query", "project", root, queryFile.toString, s"file:$outDir")) == 0)
    assert(spark.read.parquet(s"$outDir/uri_q.parquet").count() == 1)
    assert(Files.readString(java.nio.file.Paths.get(s"$outDir/query.json")).contains("uri_q"))
    assert(!Files.exists(java.nio.file.Paths.get(s"file:$outDir")),
      "the sidecar must not land under a relative file: directory")
  }

  test("config create stores the registry root; @config resolves in any verb; bad config exits 1") {
    val root = Files.createTempDirectory("graft-cli-cfgreg").toString
    val reg = Registry(spark, root)
    Registry.registerDataset(reg, "cfgds",
      Seq(("a", 1.0), ("b", 2.0)).toDF("geography", ValueColumn))
    val cfg = Files.createTempDirectory("graft-cli-cfg").resolve("graft.json")
    assert(Cli.run(Array("config", "create", cfg.toString, root)) == 0)
    // the stored root resolves wherever a registryRoot is expected
    assert(Cli.run(Array("registry", "list", s"@$cfg")) == 0)
    assert(Cli.run(Array("registry", "check", s"@$cfg")) == 0)
    // missing file / malformed content → exit 1, not a stack trace
    assert(Cli.run(Array("registry", "list", "@/nonexistent/graft.json")) == 1)
    val bad = Files.createTempFile("graft-cli-badcfg", ".json")
    Files.writeString(bad, """{"wrong_key": 1}""")
    assert(Cli.run(Array("registry", "list", s"@$bad")) == 1)
  }

  test("query dataset command runs a DatasetQuery document") {
    val root = Files.createTempDirectory("graft-cli-reg2").toString
    val reg = Registry(spark, root)
    Registry.registerDataset(reg, "ds",
      Seq(("a", 1.0), ("b", 4.0), ("b", 5.0)).toDF("geography", ValueColumn))
    val queryFile = Files.createTempFile("graft-cli2", ".json")
    Files.writeString(queryFile, """{
      "name": "cli_dq",
      "dataset": {"dataset_id": "ds"},
      "result": {"aggregations": [{"group_by": ["geography"]}], "sort_by": ["geography"]}
    }""")
    val outDir = Files.createTempDirectory("graft-cli-out2").toString
    Cli.main(Array("query", "dataset", root, queryFile.toString, outDir, "--csv"))
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/cli_dq.csv")))
  }

  test("registration verbs stand up a registry from files end-to-end; bad data exits nonzero") {
    val root = Files.createTempDirectory("graft-cli-reg3").toString
    val files = Files.createTempDirectory("graft-cli-files").toString
    Seq(("c1", "County 1"), ("c2", "County 2")).toDF("id", "name")
      .write.parquet(s"$files/counties.parquet")
    Seq(("s1", "State 1")).toDF("id", "name")
      .write.parquet(s"$files/states.parquet")
    Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0)).toDF("from_id", "to_id", "from_fraction")
      .write.parquet(s"$files/c2s.parquet")
    Seq(("c1", 1.0), ("c2", 2.0)).toDF("geography", ValueColumn)
      .write.parquet(s"$files/load.parquet")

    assert(Cli.run(Array("registry", "register-dimension", root, "county", s"$files/counties.parquet")) == 0)
    assert(Cli.run(Array("registry", "register-dimension", root, "state", s"$files/states.parquet")) == 0)
    assert(Cli.run(Array(
      "registry", "register-mapping", root, "county_to_state", s"$files/c2s.parquet",
      "--from-dimension", "county", "--to-dimension", "state")) == 0)
    assert(Cli.run(Array(
      "registry", "register-dataset", root, "ds", s"$files/load.parquet",
      "--dim", s"geography=$files/counties.parquet")) == 0)
    assert(Cli.run(Array("registry", "check", root)) == 0)

    // the registered registry answers queries
    val reg = Registry(spark, root)
    assert(reg.listDatasets() == Seq("ds") && reg.listMappings() == Seq("county_to_state"))
    assert(reg.mappingEndpoints("county_to_state") == ((Some("county"), Some("state"))))

    // a dataset with a dimension value missing from the records must FAIL
    Seq(("c1", 1.0), ("cX", 2.0)).toDF("geography", ValueColumn)
      .write.parquet(s"$files/bad_load.parquet")
    assert(Cli.run(Array(
      "registry", "register-dataset", root, "bad", s"$files/bad_load.parquet",
      "--dim", s"geography=$files/counties.parquet")) != 0)
    assert(!reg.listDatasets().contains("bad"))

    // a mapping whose from_ids don't resolve against its declared dimension must FAIL
    Seq(("zZ", "s1", 1.0)).toDF("from_id", "to_id", "from_fraction")
      .write.parquet(s"$files/badmap.parquet")
    assert(Cli.run(Array(
      "registry", "register-mapping", root, "badmap", s"$files/badmap.parquet",
      "--from-dimension", "county", "--to-dimension", "state")) != 0)
  }

  test("filter verb exports a pruned registry; dangling references are refused") {
    val root = Files.createTempDirectory("graft-cli-reg4").toString
    val reg = Registry(spark, root)
    Registry.registerDimension(reg, "geo", Seq(("a", "A"), ("b", "B")).toDF("id", "name"))
    Registry.registerMapping(reg, "geo_up",
      Seq(("a", "all", 1.0), ("b", "all", 1.0)).toDF("from_id", "to_id", "from_fraction"),
      fromDimension = Some("geo"))
    Registry.registerDataset(reg, "d1", Seq(("a", 1.0)).toDF("geography", ValueColumn))
    Registry.registerDataset(reg, "d2", Seq(("b", 2.0)).toDF("geography", ValueColumn))

    val dest = Files.createTempDirectory("graft-cli-reg4f").toString + "/filtered"
    assert(Cli.run(Array(
      "registry", "filter", root, dest,
      "--datasets", "d1", "--dimensions", "geo", "--mappings", "geo_up")) == 0)
    val out = Registry(spark, dest)
    assert(out.listDatasets() == Seq("d1") && out.listDimensions() == Seq("geo"))
    assert(out.dataset("d1").count() == 1)

    // keeping the mapping but dropping its declared dimension must refuse
    val dest2 = Files.createTempDirectory("graft-cli-reg4g").toString + "/broken"
    assert(Cli.run(Array("registry", "filter", root, dest2, "--mappings", "geo_up")) != 0)
    // unknown selections refuse too
    assert(Cli.run(Array("registry", "filter", root, dest2 + "x", "--datasets", "nope")) != 0)
  }

  test("re-registering a mapping without endpoints detaches it; refused filter leaves no debris") {
    val root = Files.createTempDirectory("graft-cli-reg6").toString
    val reg = Registry(spark, root)
    Registry.registerDimension(reg, "geo", Seq(("a", "A")).toDF("id", "name"))
    val table = Seq(("a", "all", 1.0)).toDF("from_id", "to_id", "from_fraction")
    Registry.registerMapping(reg, "m", table, fromDimension = Some("geo"))
    assert(reg.mappingEndpoints("m") == ((Some("geo"), None)))
    // a dependent mapping blocks removal…
    assertThrows[IllegalArgumentException](Registry.removeDimension(reg, "geo"))
    // …until a re-registration WITHOUT endpoints detaches it (stale
    // meta.json must not survive the overwrite)
    Registry.registerMapping(reg, "m", table)
    assert(reg.mappingEndpoints("m") == ((None, None)))
    Registry.removeDimension(reg, "geo")
    assert(reg.listDimensions().isEmpty)

    // a refused export must not leave a partially-copied tree behind
    Registry.registerDataset(reg, "d1", Seq(("a", 1.0)).toDF("geography", ValueColumn))
    val dest = Files.createTempDirectory("graft-cli-reg6f").toString + "/partial"
    assertThrows[IllegalArgumentException](
      Registry.filterTo(reg, dest, datasets = Seq("d1"), dimensions = Seq("nope")))
    assert(!graft.sources.HadoopFs.exists(spark, s"$dest/datasets/d1"),
      "refused filterTo must not copy anything before validating selections")
  }

  test("remove verbs are dependency-checked; dump exports records") {
    val root = Files.createTempDirectory("graft-cli-reg5").toString
    val reg = Registry(spark, root)
    Registry.registerDimension(reg, "geo", Seq(("a", "A"), ("b", "B")).toDF("id", "name"))
    Registry.registerMapping(reg, "geo_up",
      Seq(("a", "all", 1.0), ("b", "all", 1.0)).toDF("from_id", "to_id", "from_fraction"),
      fromDimension = Some("geo"))
    Registry.registerDataset(reg, "d1", Seq(("a", 1.0)).toDF("geography", ValueColumn))

    // dump: parquet and single-file CSV
    val dump = Files.createTempDirectory("graft-cli-dump").toString
    assert(Cli.run(Array("registry", "dump-dimension", root, "geo", s"$dump/geo.parquet")) == 0)
    assert(spark.read.parquet(s"$dump/geo.parquet").count() == 2)
    assert(Cli.run(Array("registry", "dump-dimension", root, "geo", s"$dump/geo.csv")) == 0)
    assert(spark.read.option("header", "true").csv(s"$dump/geo.csv").count() == 2)
    assert(Cli.run(Array("registry", "dump-dimension", root, "nope", s"$dump/x.parquet")) != 0)

    // removing a dimension a mapping declares must refuse, naming the mapping
    assert(Cli.run(Array("registry", "remove-dimension", root, "geo")) != 0)
    assert(reg.listDimensions() == Seq("geo"))
    // drop the mapping first, then the dimension removes cleanly
    assert(Cli.run(Array("registry", "remove-mapping", root, "geo_up")) == 0)
    assert(Cli.run(Array("registry", "remove-dimension", root, "geo")) == 0)
    assert(Cli.run(Array("registry", "remove-dataset", root, "d1")) == 0)
    assert(reg.listDimensions().isEmpty && reg.listMappings().isEmpty && reg.listDatasets().isEmpty)
    // removing something absent exits nonzero
    assert(Cli.run(Array("registry", "remove-dataset", root, "d1")) != 0)
  }
}

class BulkRegisterSpec extends SparkSpec {
  import spark.implicits._

  test("bulk manifest registers dimensions, mappings and datasets in one shot; failures journal and resume") {
    val root = Files.createTempDirectory("graft-bulk-reg").toString
    val files = Files.createTempDirectory("graft-bulk-files").toString
    Seq(("c1", "C1"), ("c2", "C2")).toDF("id", "name").write.parquet(s"$files/geo.parquet")
    Seq(("com", "Commercial")).toDF("id", "name").write.parquet(s"$files/sector.parquet")
    Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0)).toDF("from_id", "to_id", "from_fraction")
      .write.parquet(s"$files/c2s.parquet")
    Seq(("c1", "com", 1.0), ("c2", "com", 2.0)).toDF("geography", "sector", ValueColumn)
      .write.parquet(s"$files/load.parquet")
    // bad dataset: geography value not in the geo dimension records
    Seq(("cX", "com", 3.0)).toDF("geography", "sector", ValueColumn)
      .write.parquet(s"$files/bad.parquet")

    val manifest =
      s"""{
         |  // bulk manifest, json5-tolerant
         |  "dimensions": [
         |    {"name": "geo", "records": "geo.parquet"},
         |    {"name": "sector", "records": "sector.parquet", "category": "supplemental"},
         |  ],
         |  "mappings": [{"name": "c2s", "table": "c2s.parquet", "from_dimension": "geo"}],
         |  "datasets": [
         |    {"id": "good", "load_data": "load.parquet", "dimensions": {"geography": "geo"}},
         |    {"id": "bad", "load_data": "bad.parquet", "dimensions": {"geography": "geo"}},
         |  ],
         |}""".stripMargin
    val reg = Registry(spark, root)
    val journal = s"$files/journal.json"

    // first run: everything up to the bad dataset lands, then the journal persists
    val e = intercept[IllegalArgumentException] {
      graft.registry.BulkRegister(reg, manifest, Some(files), Some(journal))
    }
    assert(e.getMessage.contains("dataset/bad") && Files.exists(java.nio.file.Paths.get(journal)))
    assert(reg.listDimensions() == Seq("geo", "sector") && reg.listDatasets() == Seq("good"))
    assert(reg.dimensionCategory("sector") == "supplemental")
    assert(reg.mappingEndpoints("c2s") == ((Some("geo"), None)))

    // fix the data, resume: completed steps are skipped, only `bad` registers
    Seq(("c1", "com", 3.0)).toDF("geography", "sector", ValueColumn)
      .write.mode("overwrite").parquet(s"$files/bad.parquet")
    val r = graft.registry.BulkRegister(reg, manifest, Some(files), Some(journal))
    assert(r.registered == Seq("dataset/bad"))
    assert(r.skipped == Seq("dimension/geo", "dimension/sector", "mapping/c2s", "dataset/good"))
    // a clean finish clears the resume state
    assert(!Files.exists(java.nio.file.Paths.get(journal)))

    // a manifest entry missing its key fails as a named validation error
    // (journal persisted for completed steps), never a raw NPE
    val j2 = s"$files/journal2.json"
    val bad = intercept[IllegalArgumentException] {
      graft.registry.BulkRegister(
        reg,
        """{"dimensions": [{"name": "geo2", "records": "geo.parquet"}, {"records": "geo.parquet"}]}""",
        Some(files), Some(j2))
    }
    assert(bad.getMessage.contains("missing required key 'name'"))
    assert(Files.exists(java.nio.file.Paths.get(j2)),
      "the journal must persist the steps completed before the malformed entry")
    assert(reg.listDimensions().contains("geo2"))
    assert(Registry.checkIntegrity(reg).isEmpty)
  }

  test("register-bulk CLI verb drives the same path") {
    val root = Files.createTempDirectory("graft-bulk-cli").toString
    val files = Files.createTempDirectory("graft-bulk-cli-files").toString
    Seq(("a", "A")).toDF("id", "name").write.parquet(s"$files/d.parquet")
    Files.writeString(java.nio.file.Paths.get(s"$files/m.json"),
      """{"dimensions": [{"name": "geo", "records": "d.parquet"}]}""")
    assert(Cli.run(Array("registry", "register-bulk", root, s"$files/m.json")) == 0)
    assert(Registry(spark, root).listDimensions() == Seq("geo"))
  }
}

class RegistryOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.query.Models._
  import org.apache.spark.sql.functions._

  test("composite CLI verbs: create, then run equals the direct query; derived registers") {
    val root = Files.createTempDirectory("graft-compcli").toString
    val reg = Registry(spark, root)
    Registry.registerDataset(reg, "ds",
      Seq(("a", 1.0), ("a", 2.0), ("b", 4.0)).toDF("geography", ValueColumn))
    val queryFile = Files.createTempFile("graft-compcli", ".json")
    Files.writeString(queryFile, """{
      "name": "comp_q",
      "datasets": {"datasets": [{"dataset_id": "ds"}]},
      "result": {"aggregations": [{"group_by": ["geography"]}], "sort_by": ["geography"]}
    }""")
    assert(Cli.run(Array("query", "composite-create", root, queryFile.toString, "comp1")) == 0)
    val outDir = Files.createTempDirectory("graft-compcli-out").toString
    assert(Cli.run(Array("query", "composite-run", root, "comp1", queryFile.toString, outDir)) == 0)
    val viaComposite = spark.read.parquet(s"$outDir/comp_q.parquet")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)
    val direct = new graft.query.Submitter(reg)
      .submit(graft.query.Json.parseProjectQuery(Files.readString(queryFile)))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)
    assert(viaComposite == direct && direct.nonEmpty)
    // derived dataset: registers the query result as a queryable dataset
    assert(Cli.run(Array("query", "register-derived", root, queryFile.toString, "derived1")) == 0)
    assert(reg.listDatasets().contains("derived1"))
    assert(reg.dataset("derived1").count() == 2)
    // a query against a missing composite id fails cleanly
    assert(Cli.run(Array("query", "composite-run", root, "nope", queryFile.toString, outDir)) != 0)
  }

  test("generate-project-query emits a document the query verb runs unmodified") {
    val root = Files.createTempDirectory("graft-genpq").toString
    val reg = Registry(spark, root)
    Registry.registerDataset(reg, "d1",
      Seq(("a", "com", 1.0), ("b", "com", 2.0)).toDF("geography", "sector", ValueColumn))
    Registry.registerDataset(reg, "d2",
      Seq(("a", "res", 3.0)).toDF("geography", "sector", ValueColumn))
    val outFile = Files.createTempFile("graft-genpq", ".json")
    assert(Cli.run(Array(
      "registry", "generate-project-query", root, "boot_q", "d1,d2", outFile.toString)) == 0)
    val outDir = Files.createTempDirectory("graft-genpq-out").toString
    assert(Cli.run(Array("query", "project", root, outFile.toString, outDir)) == 0)
    assert(spark.read.parquet(s"$outDir/boot_q.parquet").count() > 0)
    // unknown dataset refused with the name
    assert(Cli.run(Array(
      "registry", "generate-project-query", root, "bad", "d1,zz", outFile.toString)) != 0)
  }

  test("auto-update cascades a shrinking dimension through mappings and datasets") {
    import graft.registry.AutoUpdate
    val root = Files.createTempDirectory("graft-autoupd").toString
    val reg = Registry(spark, root)
    Registry.registerDimension(reg, "geography", Seq(("a", "A"), ("b", "B")).toDF("id", "name"))
    Registry.registerMapping(reg, "geo_up",
      Seq(("a", "all", 1.0), ("b", "all", 1.0)).toDF("from_id", "to_id", "from_fraction"),
      fromDimension = Some("geography"))
    Registry.registerDataset(reg, "facts",
      Seq(("a", 1.0), ("b", 2.0)).toDF("geography", ValueColumn))
    // the plain registration path refuses the shrinking update...
    val shrunk = Seq(("a", "A")).toDF("id", "name")
    intercept[IllegalArgumentException](Registry.registerDimension(reg, "geography", shrunk))
    // ...the auto-updater cascades it: mapping and dataset both pruned
    val report = AutoUpdate.updateDimensionCascade(reg, "geography", shrunk)
    assert(report.updatedMappings == Seq("geo_up"))
    assert(report.updatedDatasets == Seq("facts"))
    assert(Registry.checkIntegrity(reg).isEmpty)
    assert(reg.dimensionRecords("geography").count() == 1)
    assert(reg.mapping("geo_up").select("from_id").as[String].collect().toSeq == Seq("a"))
    assert(reg.dataset("facts").select("geography").as[String].collect().toSeq == Seq("a"))
    // a compatible (growing) update cascades as a no-op
    val grown = Seq(("a", "A"), ("c", "C")).toDF("id", "name")
    val r2 = AutoUpdate.updateDimensionCascade(reg, "geography", grown)
    assert(!r2.changed && reg.dimensionRecords("geography").count() == 2)
    // unknown dimension is refused (fresh registration is registerDimension's job)
    intercept[IllegalArgumentException](
      AutoUpdate.updateDimensionCascade(reg, "nope", grown))
  }

  test("generate-dataset-config: generate, edit nothing, register succeeds; existing dimensions matched") {
    import graft.registry.ConfigGen
    val root = Files.createTempDirectory("graft-genreg").toString
    val reg = Registry(spark, root)
    // 'sector' pre-registered with exactly the record set the data carries →
    // the generator must MATCH it instead of minting a duplicate
    Registry.registerDimension(reg, "sector",
      Seq(("com", "Commercial"), ("res", "Residential")).toDF("id", "name"))
    val data = Seq(
      ("c1", "com", 1.5), ("c2", "com", 2.5), ("c1", "res", 4.0))
      .toDF("geography", "sector", ValueColumn)
    val gen = ConfigGen.generateDatasetConfig(reg, "accounts", data)
    assert(gen.dimensionColumns.toSet == Set("geography", "sector"))
    assert(gen.valueColumns == Seq(ValueColumn))
    assert(gen.matchedDimensions == Map("sector" -> "sector"))
    assert(gen.newRecords.keySet == Set("geography"))
    // the reference's record synthesis: name = title-cased id
    val geoRecs = gen.newRecords("geography").as[(String, String)].collect().toSeq
    assert(geoRecs == Seq(("c1", "C1"), ("c2", "C2")))
    ConfigGen.registerGenerated(reg, gen, data)
    assert(reg.listDatasets() == Seq("accounts"))
    assert(reg.listDimensions().toSet == Set("geography", "sector"))
    // the registered dataset answers a query over the generated dimensions
    assert(reg.dataset("accounts").count() == 3)
  }

  test("generate-dataset-config CLI verb writes config + records and --register lands it") {
    val root = Files.createTempDirectory("graft-genclireg").toString
    val files = Files.createTempDirectory("graft-gencli-files").toString
    Seq(("c1", "com", 1.5), ("c2", "res", 2.5)).toDF("geography", "sector", ValueColumn)
      .write.parquet(s"$files/load.parquet")
    val out = Files.createTempDirectory("graft-gencli-out").toString
    assert(Cli.run(Array(
      "registry", "generate-dataset-config", root, "accounts", s"$files/load.parquet",
      out, "--register")) == 0)
    assert(Files.exists(java.nio.file.Paths.get(s"$out/dataset.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$out/dimensions/geography.csv")))
    assert(Files.exists(java.nio.file.Paths.get(s"$out/dimensions/sector.csv")))
    val reg = Registry(spark, root)
    assert(reg.listDatasets() == Seq("accounts"))
    assert(reg.listDimensions().toSet == Set("geography", "sector"))
  }

  test("delete-version removes only the named semver subtree and refuses non-versions") {
    val root = Files.createTempDirectory("graft-delver").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/v1.0.0"))
    val v1 = Registry.atVersion(spark, root, "v1.0.0")
    Registry.registerDimension(v1, "geo", Seq(("a", "A")).toDF("id", "name"))
    Registry.newVersion(spark, root, "v1.0.0", "v1.1.0")
    assert(Cli.run(Array("registry", "delete-version", root, "v1.0.0")) == 0)
    assert(Registry.versions(spark, root) == Seq("v1.1.0"))
    assert(Cli.run(Array("registry", "delete-version", root, "v9.9.9")) != 0)
    assert(Cli.run(Array("registry", "delete-version", root, "dimensions")) != 0)
    // the survivor still reads
    assert(Registry.latest(spark, root).dimensionRecords("geo").count() == 1)
  }

  test("version bump: an update that drops a mapped-to record fails naming the mapping") {
    val root = Files.createTempDirectory("graft-verreg").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/v1.0.0"))
    val v1 = Registry.atVersion(spark, root, "v1.0.0")
    Registry.registerDimension(v1, "geo", Seq(("a", "A"), ("b", "B")).toDF("id", "name"))
    Registry.registerMapping(v1, "geo_up",
      Seq(("a", "all", 1.0), ("b", "all", 1.0)).toDF("from_id", "to_id", "from_fraction"),
      fromDimension = Some("geo"))
    val v2 = Registry.newVersion(spark, root, "v1.0.0", "v1.1.0")
    // compatible update: superset of referenced ids
    Registry.registerDimension(v2, "geo",
      Seq(("a", "A"), ("b", "B"), ("c", "C")).toDF("id", "name"))
    // incompatible update: drops 'b', which geo_up still maps from
    val e = intercept[IllegalArgumentException] {
      Registry.registerDimension(v2, "geo", Seq(("a", "A"), ("c", "C")).toDF("id", "name"))
    }
    assert(e.getMessage.contains("geo_up") && e.getMessage.contains("b"),
      s"must name the broken mapping and id: ${e.getMessage}")
    // the bad update must not have landed; v1.0.0 untouched throughout
    assert(Registry.checkIntegrity(v2).isEmpty && Registry.checkIntegrity(v1).isEmpty)
    assert(v2.dimensionRecords("geo").count() == 3 && v1.dimensionRecords("geo").count() == 2)
  }

  test("mapping-side reference checks: golden refusals for a dimension update and a mapping registration") {
    val reg = Registry(spark, Files.createTempDirectory("graft-refmsg").toString)
    Registry.registerDimension(reg, "geo", Seq(("a", "A"), ("b", "B")).toDF("id", "name"))
    Registry.registerMapping(reg, "geo_up",
      Seq(("a", "all", 1.0), ("b", "all", 1.0)).toDF("from_id", "to_id", "from_fraction"),
      fromDimension = Some("geo"))
    val update = intercept[IllegalArgumentException] {
      Registry.registerDimension(reg, "geo", Seq(("a", "A")).toDF("id", "name"))
    }
    assert(update.getMessage == "requirement failed: registerDimension(geo): incompatible update — " +
      "mapping 'geo_up' from_id values would no longer resolve: b")
    val mapping = intercept[IllegalArgumentException] {
      Registry.registerMapping(reg, "bad",
        Seq(("zZ", "all", 1.0)).toDF("from_id", "to_id", "from_fraction"),
        fromDimension = Some("geo"))
    }
    assert(mapping.getMessage ==
      "requirement failed: registerMapping(bad): from_id values missing from dimension 'geo': zZ")
  }

  test("filtered registry answers a project query identically on the retained subset") {
    val root = Files.createTempDirectory("graft-filtreg").toString
    val reg = Registry(spark, root)
    Registry.registerDataset(reg, "accounts",
      Seq(("c1", "com", 1.5), ("c2", "com", 2.5), ("c1", "res", 4.0))
        .toDF("geography", "sector", ValueColumn))
    Registry.registerDataset(reg, "unrelated",
      Seq(("x", 9.0)).toDF("geography", ValueColumn))
    Registry.registerMapping(reg, "c_to_s",
      Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0)).toDF("from_id", "to_id", "from_fraction"))
    Registry.registerDimension(reg, "sector",
      Seq(("com", "Commercial"), ("res", "Residential")).toDF("id", "name"))
    val q = ProjectQuery(
      name = "filtered_equiv",
      datasets = DatasetSection(Seq(
        DatasetRef("accounts", Seq(DimensionMappingRef("geography", "c_to_s"))))),
      result = ResultSection(
        aggregations = Seq(Aggregation(groupBy = Seq("geography", "sector"))),
        sortBy = Seq("geography", "sector")))
    val full = new graft.query.Submitter(reg).submit(q).collect().toSeq
    val dest = Files.createTempDirectory("graft-filtreg-out").toString + "/sub"
    val sub = Registry.filterTo(reg, dest,
      datasets = Seq("accounts"), dimensions = Seq("sector"), mappings = Seq("c_to_s"))
    val filtered = new graft.query.Submitter(sub).submit(q).collect().toSeq
    assert(filtered == full && full.nonEmpty)
    assert(sub.listDatasets() == Seq("accounts"))
  }

  test("object-store sync: push/pull round-trip; concurrent pushes serialize on the lock") {
    val local = Files.createTempDirectory("graft-sync-local").toString
    val remote = Files.createTempDirectory("graft-sync").toString + "/remote"
    val reg = Registry(spark, local)
    Registry.registerDimension(reg, "geo", Seq(("a", "A")).toDF("id", "name"))
    val storage = new graft.registry.HadoopStorage(spark, timeoutMs = 5000, pollMs = 20)
    storage.push(local, remote)
    val pulled = Files.createTempDirectory("graft-sync-pull").toString + "/copy"
    storage.pull(remote, pulled)
    assert(Registry(spark, pulled).dimensionRecords("geo").count() == 1)
    // the lock file is gone after a successful push
    assert(!graft.sources.HadoopFs.exists(spark, s"$remote.lock"))

    // serialization: only one holder may be inside the critical section
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 3).map { _ =>
      new Thread(() => storage.withLock(s"$remote.lock") {
        val now = inside.incrementAndGet()
        maxSeen.getAndUpdate(m => math.max(m, now))
        Thread.sleep(150)
        inside.decrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxSeen.get() == 1, s"lock admitted ${maxSeen.get()} holders concurrently")

    // a held lock times out a second acquirer with the holder named
    storage.withLock(s"$remote.lock") {
      val fast = new graft.registry.HadoopStorage(spark, timeoutMs = 200, pollMs = 20)
      val e = intercept[IllegalStateException](fast.withLock(s"$remote.lock")(()))
      assert(e.getMessage.contains("could not acquire"))
    }
  }
}

/** Registry-scale stress (r8 task #6 / r9 brief #3): the reference's
  * production registries hold hundreds of datasets, and `checkIntegrity`
  * / `filterTo` / an auto-update cascade are the operations where an
  * accidentally-quadratic registry scan (or a per-object Spark-job loop)
  * would hide. One object of each kind registers through the real API;
  * the rest are subtree copies — the registry's own "version = subtree"
  * on-disk convention — so fixture build time doesn't drown the measured
  * operations. */
class RegistryScaleSpec extends SparkSpec {
  import spark.implicits._

  private val Datasets = 500
  private val Dimensions = 50
  private val Mappings = 100

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  private def timed[A](label: String, budgetSec: Double)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"$label: $dt%.1f s (budget $budgetSec%.0f s)")
    assert(dt < budgetSec, f"$label took $dt%.1f s, over the $budgetSec%.0f s budget")
    r
  }

  test(s"registry ops stay bounded at $Datasets datasets / $Dimensions dimensions / $Mappings mappings") {
    val root = Files.createTempDirectory("graft-reg-scale").toString
    val reg = Registry(spark, root)

    Registry.registerDimension(reg, "geo_000",
      (0 until 10).map(i => (s"r$i", s"R$i")).toDF("id", "name"))
    Registry.registerMapping(reg, "m_000",
      (0 until 5).map(i => (s"r$i", "all", 1.0)).toDF("from_id", "to_id", "from_fraction"),
      fromDimension = Some("geo_000"))
    Registry.registerDataset(reg, "d_000",
      (0 until 5).map(i => (s"r$i", i.toDouble)).toDF("geo_000", ValueColumn))

    def fanOut(kind: String, template: String, n: Int, name: Int => String): Unit = {
      val src = java.nio.file.Paths.get(root, kind, template)
      (1 until n).foreach(i => copyTree(src, java.nio.file.Paths.get(root, kind, name(i))))
    }
    fanOut("dimensions", "geo_000", Dimensions, i => f"geo_$i%03d")
    fanOut("mappings", "m_000", Mappings, i => f"m_$i%03d")
    fanOut("datasets", "d_000", Datasets, i => f"d_$i%03d")
    assert(reg.listDimensions().size == Dimensions)
    assert(reg.listMappings().size == Mappings)
    assert(reg.listDatasets().size == Datasets)

    // every mapping declares geo_000 — the sweep must batch all of them
    // into one membership check, not run #mappings anti-join jobs
    timed("checkIntegrity", 60)(assert(Registry.checkIntegrity(reg).isEmpty))

    // full-registry export: 650 subtree copies + post-export integrity
    val dest = Files.createTempDirectory("graft-reg-scale-out").toString + "/export"
    val out = timed("filterTo", 60)(Registry.filterTo(
      reg, dest,
      datasets = reg.listDatasets(),
      dimensions = reg.listDimensions(),
      mappings = reg.listMappings()))
    assert(out.listDatasets().size == Datasets)

    // cascade on a dimension no mapping/dataset references: the pure
    // O(datasets + mappings) dependency sweep (dropping an unused id, so
    // the validated re-registration accepts it; prune semantics proper are
    // pinned by the small cascade spec above)
    val shrunk = (0 until 9).map(i => (s"r$i", s"R$i")).toDF("id", "name")
    val report = timed("updateDimensionCascade", 60)(
      graft.registry.AutoUpdate.updateDimensionCascade(reg, "geo_001", shrunk))
    assert(!report.changed)
    assert(reg.dimensionRecords("geo_001").count() == 9)
  }
}
