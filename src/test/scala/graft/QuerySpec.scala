package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.Constants._
import graft.operators.DimensionFilter
import graft.query.Models._
import graft.query.Submitter
import graft.registry.{MappingTypes, Registry}

class QuerySpec extends SparkSpec {
  import spark.implicits._

  /** A tiny project registry: 2 counties per state, 2 sectors, energy in
    * MWh; a county→state aggregation mapping. */
  private def buildRegistry(): Registry = {
    val root = Files.createTempDirectory("graft-registry").toString
    val reg = Registry(spark, root)
    Registry.registerDimension(reg, "geography",
      Seq(("c1", "County 1", "s1"), ("c2", "County 2", "s1"), ("c3", "County 3", "s2"), ("c4", "County 4", "s2"))
        .toDF("id", "name", "state"))
    Registry.registerDimension(reg, "metric",
      Seq(("elec", "Electricity", "MWh"), ("gas", "Gas", "kWh")).toDF("id", "name", "unit"))
    Registry.registerMapping(reg, "county_to_state",
      Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0), ("c3", "s2", 1.0), ("c4", "s2", 1.0))
        .toDF(FromIdColumn, ToIdColumn, FromFractionColumn))
    // dataset A: one-table, values per (county, sector, metric)
    Registry.registerDataset(reg, "dsA",
      Seq(
        ("c1", "com", "elec", 1.0), ("c2", "com", "elec", 2.0),
        ("c3", "com", "elec", 3.0), ("c4", "com", "elec", 4.0),
        ("c1", "res", "elec", 10.0), ("c2", "res", "elec", 20.0),
        ("c3", "res", "elec", 30.0), ("c4", "res", "elec", 40.0))
        .toDF("geography", "sector", "metric", ValueColumn))
    // dataset B: two-table layout; covers every (state, sector) combo after
    // mapping so aligned arithmetic with dsA is well-defined
    Registry.registerDataset(reg, "dsB",
      Seq((1, 100.0), (2, 200.0), (3, 300.0), (4, 400.0)).toDF("id", ValueColumn),
      lookup = Some(Seq(
        (1, "c1", "com", "elec"), (2, "c2", "res", "elec"),
        (3, "c3", "com", "elec"), (4, "c4", "res", "elec"))
        .toDF("id", "geography", "sector", "metric")))
    reg
  }

  test("project query end-to-end: map, combine, filter, aggregate, names, sort") {
    val reg = buildRegistry()
    val q = ProjectQuery(
      name = "state_elec",
      datasets = DatasetSection(
        datasets = Seq(
          DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))),
          DatasetRef("dsB", Seq(DimensionMappingRef("geography", "county_to_state"))))),
      result = ResultSection(
        filters = Seq(DimensionFilter.ExpressionFilter("metric", "==", "elec")),
        aggregations = Seq(Aggregation(groupBy = Seq("geography", "sector"))),
        sortBy = Seq("geography", "sector")))
    val out = new Submitter(reg).submit(q)
    val got = out.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    // dsA: s1com=3, s1res=30, s2com=7, s2res=70
    // dsB: s1com=100, s1res=200, s2com=300, s2res=400
    assert(got == Seq(("s1", "com", 103.0), ("s1", "res", 230.0), ("s2", "com", 307.0), ("s2", "res", 470.0)))
  }

  test("dataset expression combine (a - b) and pivot output") {
    val reg = buildRegistry()
    val q = ProjectQuery(
      name = "diff",
      datasets = DatasetSection(
        datasets = Seq(
          DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))),
          DatasetRef("dsB", Seq(DimensionMappingRef("geography", "county_to_state")))),
        expression = Some("dsA - dsB")),
      result = ResultSection(
        aggregations = Seq(Aggregation(groupBy = Seq("geography"))),
        sortBy = Seq("geography")))
    // per-state: s1 = (3-100)+(30-200) = -267 ; s2 = (7-300)+(70-400) = -623
    val out = new Submitter(reg).submit(q)
    val got = out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("s1", -267.0), ("s2", -623.0)))
  }

  test("dataset query with unit conversion to kWh and ids->names") {
    val reg = buildRegistry()
    val q = DatasetQuery(
      name = "dsA_kwh",
      dataset = DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))),
      result = ResultSection(
        aggregations = Seq(Aggregation(groupBy = Seq("metric"))),
        toUnit = Some("kWh"),
        idsToNames = Seq("metric")))
    val out = new Submitter(reg).submit(q)
    val got = out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("Electricity", 110000.0))) // 110 MWh -> kWh
  }

  test("supplemental column attaches without replacing the base dimension") {
    val reg = buildRegistry()
    val q = DatasetQuery(
      name = "supp",
      dataset = DatasetRef("dsA"),
      result = ResultSection(
        supplementalColumns = Seq(SupplementalColumn("geography", "county_to_state", "state")),
        aggregations = Seq(Aggregation(groupBy = Seq("state", "sector"))),
        sortBy = Seq("state", "sector")))
    val out = new Submitter(reg).submit(q)
    val got = out.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq(("s1", "com", 3.0), ("s1", "res", 30.0), ("s2", "com", 7.0), ("s2", "res", 70.0)))
  }

  test("composite dataset: create once, post-process many times") {
    val reg = buildRegistry()
    val sub = new Submitter(reg)
    sub.createCompositeDataset("combo", DatasetSection(Seq(
      DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))),
      DatasetRef("dsB", Seq(DimensionMappingRef("geography", "county_to_state"))))))
    val bySector = sub.submitComposite("combo",
      ResultSection(aggregations = Seq(Aggregation(Seq("sector"))), sortBy = Seq("sector")))
    val got = bySector.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("com", 410.0), ("res", 700.0)))
    val byState = sub.submitComposite("combo",
      ResultSection(aggregations = Seq(Aggregation(Seq("geography"))), sortBy = Seq("geography")))
    assert(byState.collect().map(_.getDouble(1)).toSeq == Seq(333.0, 777.0))
  }

  test("peak-load report") {
    val reg = buildRegistry()
    val df = reg.dataset("dsA")
    val peaks = graft.query.Reports.peakLoad(df, Seq("sector"), tieBreak = Seq("geography"))
    val got = peaks.collect().map(r => (r.getAs[String]("sector"), r.getAs[Double](graft.core.Constants.ValueColumn))).toMap
    assert(got == Map("com" -> 4.0, "res" -> 40.0))
  }

  test("projection dataset: initial values grown by a growth-rate dataset") {
    val reg = buildRegistry()
    // growth rates per (geography, model_year): 100%/yr in s1, 0%/yr in s2
    Registry.registerDataset(reg, "rates",
      Seq(("s1", "2022", 1.0), ("s2", "2022", 0.0)).toDF("geography", "model_year", ValueColumn))
    Registry.registerDataset(reg, "initial",
      Seq(("c1", "2022", 5.0), ("c3", "2022", 7.0)).toDF("geography", "model_year", ValueColumn))
    val q = ProjectQuery(
      name = "projected",
      datasets = DatasetSection(Seq(
        DatasetRef(
          "initial",
          Seq(DimensionMappingRef("geography", "county_to_state")),
          growth = Some(GrowthSpec(
            datasetId = "rates",
            joinColumns = Seq("geography", "model_year"),
            baseYear = 2020))))),
      result = ResultSection(sortBy = Seq("geography")))
    val out = new Submitter(reg).submit(q)
    val got = out.select("geography", ValueColumn).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // s1: 5 * (1+1)^(2022-2020) = 20 ; s2: 7 * 1^2 = 7
    assert(got == Seq(("s1", 20.0), ("s2", 7.0)))
  }

  test("JSON query document parses and runs") {
    val reg = buildRegistry()
    val json = """{
      "name": "state_elec_json",
      "datasets": {
        "datasets": [
          {"dataset_id": "dsA",
           "mappings": [{"dimension": "geography", "mapping_name": "county_to_state"}]}
        ]
      },
      "result": {
        "filters": [
          {"filter_type": "expression", "column": "metric", "operator": "==", "value": "elec"},
          {"filter_type": "column_operator", "column": "sector", "operator": "isin", "values": ["com"]}
        ],
        "aggregations": [{"group_by": ["geography"], "fn": "sum"}],
        "sort_by": ["geography"]
      }
    }"""
    val q = graft.query.Json.parseProjectQuery(json)
    val out = new Submitter(reg).submit(q)
    val got = out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("s1", 3.0), ("s2", 7.0)))

    // JSON5-style comments and trailing commas are tolerated
    val json5 = """{
      // the query name
      "name": "q5", /* block comment */
      "datasets": {"datasets": [{"dataset_id": "dsA"},]},
    }"""
    assert(graft.query.Json.parseProjectQuery(json5).name == "q5")
  }

  test("content-hash cache: second submit reads the cached parquet") {
    val reg = buildRegistry()
    val cacheDir = Files.createTempDirectory("graft-qcache").toString
    val q = ProjectQuery(
      name = "cached",
      datasets = DatasetSection(Seq(DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))))),
      result = ResultSection(aggregations = Seq(Aggregation(Seq("geography"))), sortBy = Seq("geography")))
    val sub = new Submitter(reg, Some(cacheDir))
    val first = rows(sub.submit(q))
    val key = contentHash(reg.contentToken + canonical(q))
    assert(Files.exists(java.nio.file.Paths.get(s"$cacheDir/cached_tables/$key/table.parquet")))
    assert(rows(sub.submit(q)) == first)
    // first cache level: the per-dataset mapped table is cached too, keyed
    // by registry state + session time zone + canonical ref
    val dsKey = "mapped_" + contentHash(
      reg.contentToken + spark.conf.get("spark.sql.session.timeZone") + canonical(q.datasets.datasets.head))
    assert(Files.exists(java.nio.file.Paths.get(s"$cacheDir/cached_tables/$dsKey/table.parquet")))
    // sidecars written beside the result
    assert(Files.exists(java.nio.file.Paths.get(s"$cacheDir/cached_tables/$key/query.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$cacheDir/cached_tables/$key/metadata.json")))
  }

  test("cache key: queries differing only in subset-record CONTENTS hash differently") {
    val setA = Seq("c1").toDF("id")
    val setB = Seq("c2").toDF("id") // same schema, different records
    def q(ids: org.apache.spark.sql.DataFrame) = DatasetQuery(
      name = "subset",
      dataset = DatasetRef("dsA"),
      result = ResultSection(filters = Seq(DimensionFilter.SubsetFilter("geography", Seq(ids)))))
    assert(canonical(q(setA)) != canonical(q(setB)))
    // and identical contents hash identically (stand-in is content-derived)
    assert(canonical(q(setA)) == canonical(q(Seq("c1").toDF("id"))))
  }

  test("cache key: registry mutation invalidates cached results") {
    val reg = buildRegistry()
    val cacheDir = Files.createTempDirectory("graft-qcache-mut").toString
    val q = ProjectQuery(
      name = "mutated",
      datasets = DatasetSection(Seq(DatasetRef("dsA"))),
      result = ResultSection(aggregations = Seq(Aggregation(Seq("sector"))), sortBy = Seq("sector")))
    val first = rows(new Submitter(reg, Some(cacheDir)).submit(q))
    assert(first.map(_(1).asInstanceOf[Double]).sum == 110.0)
    // re-register dsA with doubled values; a fresh Submitter must MISS
    Registry.registerDataset(reg, "dsA",
      Seq(("c1", "com", "elec", 2.0), ("c1", "res", "elec", 20.0))
        .toDF("geography", "sector", "metric", ValueColumn))
    val second = rows(new Submitter(reg, Some(cacheDir)).submit(q))
    assert(second.map(_(1).asInstanceOf[Double]).sum == 22.0)
  }

  test("per-dataset filter prunes the fact scan below the mapping join") {
    val reg = buildRegistry()
    // filter expressed in PROJECT space (state ids) on a county-level dataset
    val ref = DatasetRef(
      "dsA",
      mappings = Seq(DimensionMappingRef("geography", "county_to_state")),
      filters = Seq(DimensionFilter.ColumnOperatorFilter("geography", "isin", Seq("s1"))))
    val out = new Submitter(reg).mapDataset(ref)
    val got = out.orderBy("sector").collect().map(r => (r.getAs[String]("sector"), r.getAs[Double](ValueColumn))).toSeq
    assert(got == Seq(("com", 3.0), ("res", 30.0)))
    // plan contract: after execution no scan emitted the full 8-row fact
    // table — the semi-join pruned it to the 4 s1-county rows
    val counts = graft.plans.PlanChecks.scanOutputRowCounts(out)
    assert(counts.nonEmpty && !counts.contains(8L), s"scan counts: $counts")
  }

  test("per-dataset filter keeps exact semantics through a one-to-many mapping") {
    val reg = buildRegistry()
    // disaggregating mapping: c1 splits into BOTH states — the prefilter must
    // keep c1 (it contributes to s1) but the excluded s2 half must not leak
    Registry.registerMapping(reg, "county_split",
      Seq(("c1", "s1", 0.5), ("c1", "s2", 0.5), ("c2", "s1", 1.0), ("c3", "s2", 1.0), ("c4", "s2", 1.0))
        .toDF(FromIdColumn, ToIdColumn, FromFractionColumn),
      mappingType = MappingTypes.ManyToManyDisaggregation)
    val ref = DatasetRef(
      "dsA",
      mappings = Seq(DimensionMappingRef("geography", "county_split")),
      filters = Seq(DimensionFilter.ColumnOperatorFilter("geography", "isin", Seq("s1"))))
    val out = new Submitter(reg).mapDataset(ref)
    val got = out.orderBy("sector").collect()
      .map(r => (r.getAs[String]("geography"), r.getAs[String]("sector"), r.getAs[Double](ValueColumn))).toSeq
    // s1 only; c1 contributes half its value, c2 all of it
    assert(got == Seq(("s1", "com", 2.5), ("s1", "res", 25.0)))
  }

  test("per-mapping knobs: saltPartitions adds a repartition, persist cuts the plan") {
    val reg = buildRegistry()
    val plain = DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state")))
    val salted = DatasetRef("dsA", Seq(
      DimensionMappingRef("geography", "county_to_state", saltPartitions = Some(4))))
    val sub = new Submitter(reg)
    val plainOut = sub.mapDataset(plain)
    val saltedOut = sub.mapDataset(salted)
    assert(sortedRows(saltedOut) == sortedRows(plainOut)) // semantics unchanged
    assert(
      graft.plans.PlanChecks.shuffleCount(saltedOut) > graft.plans.PlanChecks.shuffleCount(plainOut),
      "salted mapping must add a repartition exchange")
    // persist knob: the map-step entry lands in the cache dir, keyed by
    // the canonical ref + session time zone + registry state
    val cacheDir = Files.createTempDirectory("graft-persist").toString
    val persisted = DatasetRef("dsA", Seq(
      DimensionMappingRef("geography", "county_to_state", persist = true)))
    val out = new Submitter(reg, Some(cacheDir)).mapDataset(persisted)
    assert(out.count() == 4)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val expected = s"mapstep_${contentHash(reg.contentToken + tz + canonical(persisted))}" +
      "_geography_county_to_state/table.parquet"
    assert(Files.exists(java.nio.file.Paths.get(s"$cacheDir/$expected")))
  }

  test("resumeMapping reuses completed map-steps only for the same query over unchanged data") {
    val reg = buildRegistry()
    val cacheDir = Files.createTempDirectory("graft-resume").toString
    def stepFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(cacheDir)
      java.nio.file.Files.walk(d).iterator().asScala
        .filter(p => p.toString.contains("mapstep_") && p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(_.toString).toSet
    }
    val ref = DatasetRef("dsA", Seq(
      DimensionMappingRef("geography", "county_to_state", persist = true)))
    assert(new Submitter(reg, Some(cacheDir)).mapDataset(ref).count() == 4)
    val firstFiles = stepFiles()
    assert(firstFiles.nonEmpty)
    // drop the top-level cache so the mapping pipeline genuinely re-runs
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$cacheDir/cached_tables"))
    // same query, same data → the persisted step is reused (identical files)
    assert(new Submitter(reg, Some(cacheDir)).mapDataset(ref).count() == 4)
    assert(stepFiles() == firstFiles, "map-step must be reused, not rewritten")
    // mutated data → different registry token → different step key → recompute
    Registry.registerDataset(reg, "dsA",
      Seq(("c1", "com", "elec", 999.0)).toDF("geography", "sector", "metric", ValueColumn))
    val out = new Submitter(reg, Some(cacheDir)).mapDataset(ref)
    assert(out.count() == 1) // fresh result — stale reuse is impossible by key
    assert(stepFiles().size > firstFiles.size)
  }

  test("registration-time validation rejects bad datasets") {
    val reg = buildRegistry()
    val geoRecords = reg.dimensionRecords("geography")
    // unknown dimension value
    val badGeo = Seq(("nope", "com", "elec", 1.0)).toDF("geography", "sector", "metric", ValueColumn)
    val e1 = intercept[IllegalArgumentException] {
      Registry.registerDataset(reg, "bad1", badGeo, dimensionRecords = Map("geography" -> geoRecords))
    }
    assert(e1.getMessage.contains("nope"))
    // NULL dimension value
    val badNull = Seq((null.asInstanceOf[String], "com", "elec", 1.0)).toDF("geography", "sector", "metric", ValueColumn)
    intercept[IllegalArgumentException] {
      Registry.registerDataset(reg, "bad2", badNull, dimensionRecords = Map("geography" -> geoRecords))
    }
    // time spine mismatch
    val ts = Seq(("c1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("geography", "timestamp", ValueColumn)
    val spine = Seq(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 01:00:00")).toDF("timestamp")
    intercept[IllegalArgumentException] {
      Registry.registerDataset(reg, "bad3", ts, expectedTimestamps = Some(spine))
    }
    // a good dataset still registers (and opt-out skips the checks)
    Registry.registerDataset(reg, "good",
      Seq(("c1", 1.0)).toDF("geography", ValueColumn),
      dimensionRecords = Map("geography" -> geoRecords))
    Registry.registerDataset(reg, "rawwrite", badGeo, validate = false)
    assert(reg.dataset("good").count() == 1)
  }

  test("mapping-type taxonomy: per-type fraction-sum and duplicate-id validation at registration") {
    val reg = buildRegistry()
    // an "aggregation" mapping whose fractions sum to 1.7 for c1 must NOT
    // register silently — it would inflate every downstream applyFraction
    val inflated = Seq(("c1", "s1", 1.0), ("c1", "s2", 0.7), ("c2", "s3", 1.0))
      .toDF(FromIdColumn, ToIdColumn, FromFractionColumn)
    val e1 = intercept[IllegalArgumentException] {
      Registry.registerMapping(reg, "inflated", inflated,
        mappingType = MappingTypes.OneToManyDisaggregation)
    }
    assert(e1.getMessage.contains("sum") && e1.getMessage.contains("c1") && e1.getMessage.contains("1.7"))
    // the same table IS a valid explicit-multipliers mapping (no sum check)
    Registry.registerMapping(reg, "multipliers", inflated,
      mappingType = MappingTypes.OneToManyExplicitMultipliers)
    assert(reg.mapping("multipliers").count() == 3)
    // one_to_one forbids duplicated from_ids
    val e2 = intercept[IllegalArgumentException] {
      Registry.registerMapping(reg, "dup",
        Seq(("c1", "x1", 0.5), ("c1", "x2", 0.5)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn),
        mappingType = MappingTypes.OneToOne)
    }
    assert(e2.getMessage.contains("duplicated") && e2.getMessage.contains(FromIdColumn))
    // disaggregation REQUIRES an explicit fraction column
    val e3 = intercept[IllegalArgumentException] {
      Registry.registerMapping(reg, "nofrac",
        Seq(("c1", "s1"), ("c1", "s2")).toDF(FromIdColumn, ToIdColumn),
        mappingType = MappingTypes.OneToManyDisaggregation)
    }
    assert(e3.getMessage.contains("requires an explicit"))
    // duplication copies verbatim: non-one fractions are rejected with a hint
    val e4 = intercept[IllegalArgumentException] {
      Registry.registerMapping(reg, "dupl",
        Seq(("c1", "s1", 0.5), ("c1", "s2", 1.0)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn),
        mappingType = MappingTypes.Duplication)
    }
    assert(e4.getMessage.contains("explicit_multipliers"))
    // a fraction-less many-to-one aggregation is valid (fraction defaults 1)
    Registry.registerMapping(reg, "rollup",
      Seq(("c1", "s1"), ("c2", "s1")).toDF(FromIdColumn, ToIdColumn))
    // unknown type names fail fast with the catalog
    val e5 = intercept[IllegalArgumentException] {
      Registry.registerMapping(reg, "bad", inflated, mappingType = "sideways")
    }
    assert(e5.getMessage.contains("unknown mapping_type"))
    // assignment types check the sum per TO id: each s gets exactly 1 total
    Registry.registerMapping(reg, "assign",
      Seq(("c1", "s1", 0.4), ("c2", "s1", 0.6), ("c1", "s2", 1.0))
        .toDF(FromIdColumn, ToIdColumn, FromFractionColumn),
      mappingType = MappingTypes.ManyToManyAssignment)
    val e6 = intercept[IllegalArgumentException] {
      Registry.registerMapping(reg, "assignbad",
        Seq(("c1", "s1", 0.4), ("c2", "s1", 0.4)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn),
        mappingType = MappingTypes.ManyToManyAssignment)
    }
    assert(e6.getMessage.contains(ToIdColumn))
  }

  test("registration completeness: full cross-product coverage, minus declared expected-missing") {
    val reg = buildRegistry()
    val geo = reg.dimensionRecords("geography")
    val sector = Seq(("com", "Commercial"), ("res", "Residential")).toDF("id", "name")
    val recs = Map("geography" -> geo, "sector" -> sector)
    // (c3, res) and (c4, res) carry no data → registration must fail with samples
    val partial = Seq(
      ("c1", "com", 1.0), ("c2", "com", 2.0), ("c3", "com", 3.0), ("c4", "com", 4.0),
      ("c1", "res", 1.0), ("c2", "res", 2.0))
      .toDF("geography", "sector", ValueColumn)
    val e = intercept[IllegalArgumentException] {
      Registry.registerDataset(reg, "incomplete", partial,
        dimensionRecords = recs, requireCompleteAssociations = true)
    }
    assert(e.getMessage.contains("incomplete dimension associations"))
    assert(e.getMessage.contains("c3") || e.getMessage.contains("c4"))
    // the miner compresses the gap to its cause: everything under res is
    // missing for the geographies that appear in the missing set
    assert(e.getMessage.contains("minimal closed patterns"))
    assert(e.getMessage.contains("(sector=res) covering 2 missing rows"))
    // declaring the gaps expected-missing makes the same data register
    val em = Seq(("c3", "res"), ("c4", "res")).toDF("geography", "sector")
    Registry.registerDataset(reg, "declared", partial,
      dimensionRecords = recs, requireCompleteAssociations = true, expectedMissing = Some(em))
    assert(reg.dataset("declared").count() == 6)
    // two-table layout: completeness runs over the LOOKUP's dimension combos
    val e2 = intercept[IllegalArgumentException] {
      Registry.registerDataset(reg, "incomplete2",
        Seq((1, 1.0), (2, 2.0)).toDF("id", ValueColumn),
        lookup = Some(Seq((1, "c1", "com"), (2, "c2", "com")).toDF("id", "geography", "sector")),
        dimensionRecords = recs, requireCompleteAssociations = true)
    }
    assert(e2.getMessage.contains("incomplete dimension associations"))
  }

  test("per-dataset spark conf applies during mapping and is restored after") {
    val reg = buildRegistry()
    val sub = new Submitter(reg)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != "7")
    val ref = DatasetRef(
      "dsA",
      mappings = Seq(DimensionMappingRef("geography", "county_to_state")),
      sparkConf = Seq(
        "spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.graft.test.sentinel" -> "on"))
    val mapped = sub.mapDataset(ref)
    // executed INSIDE the conf window: the fraction-collapse shuffle ran
    // with 7 partitions (AQE off so nothing re-coalesces them)
    assert(mapped.rdd.getNumPartitions == 7)
    // ...and the session conf is back exactly as it was
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(spark.conf.getOption("spark.graft.test.sentinel").isEmpty)
    // tuning must not change results
    val plain = sub.mapDataset(ref.copy(sparkConf = Nil))
    assert(mapped.orderBy("geography", "sector").collect().toSeq ==
      plain.orderBy("geography", "sector").collect().toSeq)
    // conf is execution tuning, not semantics: cache keys ignore it
    assert(graft.query.Models.canonical(ref) == graft.query.Models.canonical(ref.copy(sparkConf = Nil)))
    // and the JSON document surface round-trips it
    val q = ProjectQuery("conf_doc", DatasetSection(Seq(ref)))
    val parsed = graft.query.Json.parseProjectQuery(graft.query.Json.render(q))
    assert(parsed.datasets.datasets.head.sparkConf.toMap == ref.sparkConf.toMap)
  }

  test("subset dimensions cannot be aggregated on; base/supplemental can") {
    val reg = buildRegistry()
    Registry.registerDimension(reg, "s1_counties",
      Seq(("c1", "County 1"), ("c2", "County 2")).toDF("id", "name"), category = "subset")
    assert(reg.dimensionCategory("s1_counties") == "subset")
    assert(reg.dimensionCategory("geography") == "base")
    val sub = new Submitter(reg)
    def query(groupBy: String) = ProjectQuery(
      name = "subset_agg",
      datasets = DatasetSection(Seq(DatasetRef("dsA"))),
      result = ResultSection(aggregations = Seq(Aggregation(groupBy = Seq(groupBy, "metric")))))
    val e = intercept[IllegalArgumentException] { sub.submit(query("s1_counties")) }
    assert(e.getMessage.contains("subset dimensions cannot be used in aggregations"))
    assert(e.getMessage.contains("s1_counties"))
    // the same aggregation over a base dimension column still submits
    assert(sub.submit(query("geography")).count() > 0)
  }

  test("geography time zone + peak-load report through the result model") {
    val reg = buildRegistry()
    // geography records need a time_zone attribute for "geography" output tz
    Registry.registerDimension(reg, "geography",
      Seq(("c1", "County 1", "America/Denver"), ("c2", "County 2", "UTC"))
        .toDF("id", "name", "time_zone"))
    Registry.registerDataset(reg, "metered",
      Seq(
        ("c1", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 5.0),
        ("c1", java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), 9.0),
        ("c2", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 2.0))
        .toDF("geography", "timestamp", ValueColumn))
    val q = ProjectQuery(
      name = "geo_tz",
      datasets = DatasetSection(Seq(DatasetRef("metered"))),
      result = ResultSection(
        timeZone = Some("geography"),
        reports = Seq(PeakLoadReport(groupBy = Seq("geography"), tieBreak = Seq("timestamp")))))
    val sub = new Submitter(reg)
    val (out, reports) = sub.submitWithReports(q)
    // Denver is UTC-7 in January: 12:00 UTC -> 05:00 local
    val c1Hours = out.filter($"geography" === "c1")
      .select(hour($"timestamp")).as[Int].collect().toSeq.sorted
    assert(c1Hours == Seq(5, 6))
    assert(out.columns.contains(TimeZoneColumn))
    val peak = reports.head._2
    val peakVals = peak.orderBy("geography").select(ValueColumn).as[Double].collect().toSeq
    assert(peakVals == Seq(9.0, 2.0))
  }

  test("semantic validation fails fast with a usable message") {
    val reg = buildRegistry()
    val sub = new Submitter(reg)
    def pq(ds: Seq[DatasetRef], r: ResultSection = ResultSection()) =
      ProjectQuery(name = "v", datasets = DatasetSection(ds), result = r)
    // unknown dataset / mapping
    val e1 = intercept[IllegalArgumentException](sub.submit(pq(Seq(DatasetRef("nope")))))
    assert(e1.getMessage.contains("unknown dataset"))
    val e2 = intercept[IllegalArgumentException](
      sub.submit(pq(Seq(DatasetRef("dsA", Seq(DimensionMappingRef("geography", "nope_map")))))))
    assert(e2.getMessage.contains("unknown mapping"))
    // incompatible post-mapping schemas across datasets
    Registry.registerDataset(reg, "odd",
      Seq(("c1", 1.0)).toDF("region_code", ValueColumn))
    val e3 = intercept[IllegalArgumentException](
      sub.submit(pq(Seq(DatasetRef("dsA"), DatasetRef("odd")))))
    assert(e3.getMessage.contains("columnRenames"))
    // aggregation on a column no dataset provides
    val e4 = intercept[IllegalArgumentException](
      sub.submit(pq(Seq(DatasetRef("dsA")),
        ResultSection(aggregations = Seq(Aggregation(Seq("no_such_dim")))))))
    assert(e4.getMessage.contains("no_such_dim"))
    // the columnRenames fix suggested by e3 actually works
    val fixed = pq(
      Seq(DatasetRef("dsA"), DatasetRef("odd", columnRenames = Seq("region_code" -> "geography"))),
      ResultSection(aggregations = Seq(Aggregation(Seq("geography")))))
    // odd lacks sector/metric columns — still a mismatch; assert message names the dataset
    val e5 = intercept[IllegalArgumentException](sub.submit(fixed))
    assert(e5.getMessage.contains("odd"))
  }

  test("registry-resolved subset/supplemental filters work from a JSON document") {
    val reg = buildRegistry()
    // a record-set dimension naming the s1 counties, and a base-to-supp
    // mapping where only c1/c3 map to anything
    Registry.registerDimension(reg, "s1_counties", Seq(("c1", "c1"), ("c2", "c2")).toDF("id", "name"))
    Registry.registerMapping(reg, "county_to_coastal",
      Seq(("c1", "coastal", 1.0), ("c3", "coastal", 1.0)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn))
    val json =
      """{"name": "subset_doc",
          "dataset": {"dataset_id": "dsA"},
          "result": {
            "filters": [
              {"filter_type": "subset", "column": "geography", "record_dimensions": ["s1_counties"]},
              {"filter_type": "supplemental", "column": "geography", "mapping_name": "county_to_coastal"}],
            "aggregations": [{"group_by": ["geography"]}],
            "sort_by": ["geography"]}}"""
    val out = new Submitter(reg).submit(graft.query.Json.parseDatasetQuery(json))
    // subset keeps c1,c2; supplemental keeps c1,c3 → intersection c1
    val got = rows(out).map(r => (r(0), r(1)))
    assert(got == Seq(("c1", 11.0)))
    // data-free forms canonicalize without touching DataFrames
    val q = graft.query.Json.parseDatasetQuery(json)
    assert(canonical(q).contains("SubsetDimensionFilter"))
  }

  test("output renames map internal dimension names to presentation names last") {
    val reg = buildRegistry()
    val q = ProjectQuery(
      name = "renamed_out",
      datasets = DatasetSection(Seq(DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))))),
      result = ResultSection(
        aggregations = Seq(Aggregation(Seq("geography"))),
        sortBy = Seq("geography"), // refers to the INTERNAL name
        outputRenames = Seq("geography" -> "state", ValueColumn -> "mwh"),
        columnType = ColumnTypeDimensionNames))
    val out = new Submitter(reg).submit(q)
    assert(out.columns.toSeq == Seq("state", "mwh"))
    assert(rows(out).map(_(0)) == Seq("s1", "s2"))
  }

  test("registry version subtrees: versions/latest resolution") {
    val root = Files.createTempDirectory("graft-versions").toString
    for (v <- Seq("v1.0.0", "v1.2.0", "v1.10.0")) {
      val reg = Registry(spark, s"$root/$v")
      Registry.registerDimension(reg, "marker", Seq((v, v)).toDF("id", "name"))
    }
    assert(Registry.versions(spark, root) == Seq("v1.0.0", "v1.2.0", "v1.10.0")) // numeric, not lexicographic
    val latest = Registry.latest(spark, root)
    assert(latest.dimensionRecords("marker").select("id").as[String].head() == "v1.10.0")
    // bump: copy the latest subtree, mutate the COPY, published stays intact
    val v2 = Registry.newVersion(spark, root, "v1.10.0", "v2.0.0")
    Registry.registerDimension(v2, "marker", Seq(("v2", "v2")).toDF("id", "name"))
    assert(Registry.latest(spark, root).dimensionRecords("marker")
      .select("id").as[String].head() == "v2")
    assert(Registry.atVersion(spark, root, "v1.10.0").dimensionRecords("marker")
      .select("id").as[String].head() == "v1.10.0")
    intercept[IllegalArgumentException](Registry.newVersion(spark, root, "v2.0.0", "not-a-version"))
  }

  test("derived dataset: a query result becomes a queryable dataset") {
    val reg = buildRegistry()
    val sub = new Submitter(reg)
    val src = ProjectQuery(
      name = "derived_src",
      datasets = DatasetSection(Seq(DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))))),
      result = ResultSection(aggregations = Seq(Aggregation(Seq("geography", "sector", "metric")))))
    sub.registerDerivedDataset("dsA_by_state", src)
    val out = sub.submit(DatasetQuery(
      name = "reuse_derived",
      dataset = DatasetRef("dsA_by_state"),
      result = ResultSection(aggregations = Seq(Aggregation(Seq("geography"))), sortBy = Seq("geography"))))
    val got = rows(out).map(r => (r(0), r(1)))
    assert(got == Seq(("s1", 33.0), ("s2", 77.0)))
  }

  test("column_type: dimension_names enables renames, dimension_types gates derived datasets") {
    val reg = buildRegistry()
    val sub = new Submitter(reg)
    def q(ct: String, renames: Seq[(String, String)]) = ProjectQuery(
      name = "ct",
      datasets = DatasetSection(Seq(DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))))),
      result = ResultSection(
        aggregations = Seq(Aggregation(Seq("geography"))),
        outputRenames = renames,
        columnType = ct))
    // dimension_types (the default) + presentation renames contradict each other
    val e = intercept[IllegalArgumentException] {
      sub.validate(q(ColumnTypeDimensionTypes, Seq("geography" -> "state")))
    }
    assert(e.getMessage.contains("column_type"))
    intercept[IllegalArgumentException] { sub.validate(q("nope", Nil)) }
    // a dimension_names result cannot become a derived dataset (ref models.py:513-519)
    val e2 = intercept[IllegalArgumentException] {
      sub.registerDerivedDataset("bad_derived", q(ColumnTypeDimensionNames, Seq("geography" -> "state")))
    }
    assert(e2.getMessage.contains("derived"))
    // and the happy path still renames
    val out = sub.submit(q(ColumnTypeDimensionNames, Seq("geography" -> "state")))
    assert(out.columns.toSeq.contains("state"))
    // column_type survives the JSON round-trip
    val rt = graft.query.Json.parseProjectQuery(
      graft.query.Json.render(q(ColumnTypeDimensionNames, Seq("geography" -> "state"))))
    assert(rt.result.columnType == ColumnTypeDimensionNames)
    // legacy documents (written before column_type existed) with renames
    // must stay re-runnable: the parser infers dimension_names
    val legacy = graft.query.Json.parseProjectQuery("""{
      "name": "legacy",
      "datasets": {"datasets": [{"dataset_id": "dsA"}]},
      "result": {"output_renames": [{"from": "geography", "to": "state"}]}
    }""")
    assert(legacy.result.columnType == ColumnTypeDimensionNames)
    sub.validate(legacy) // must not throw
    // composite post-processing goes through the same column_type checks
    intercept[IllegalArgumentException] {
      sub.submitComposite("whatever", ResultSection(columnType = "nope"))
    }
  }

  test("Json.render round-trips a full query document; query.json sidecar is re-runnable") {
    val q = ProjectQuery(
      name = "roundtrip",
      datasets = DatasetSection(
        datasets = Seq(DatasetRef(
          "dsA",
          mappings = Seq(DimensionMappingRef("geography", "county_to_state", persist = true, saltPartitions = Some(4))),
          filters = Seq(
            DimensionFilter.ColumnOperatorFilter("geography", "isin", Seq("s1", "s2")),
            DimensionFilter.SubsetDimensionFilter("sector", Seq("subsets"))),
          columnRenames = Seq("geo" -> "geography"))),
        expression = Some("dsA")),
      result = ResultSection(
        filters = Seq(DimensionFilter.BetweenFilter("value", 0L, 100L)),
        aggregations = Seq(Aggregation(Seq("geography"), "sum")),
        sortBy = Seq("geography"),
        timeZone = Some("geography"),
        reports = Seq(PeakLoadReport(Seq("geography"), tieBreak = Seq("timestamp"))),
        outputRenames = Seq("geography" -> "state"),
        columnType = ColumnTypeDimensionNames),
      sessionTimeZone = Some("America/Denver"))
    val parsed = graft.query.Json.parseProjectQuery(graft.query.Json.render(q))
    assert(parsed == q)
    // and the sidecar written by a caching Submitter parses back to the query
    val reg = buildRegistry()
    val cacheDir = Files.createTempDirectory("graft-sidecar").toString
    val simple = ProjectQuery(
      name = "sidecar",
      datasets = DatasetSection(Seq(DatasetRef("dsA"))),
      result = ResultSection(aggregations = Seq(Aggregation(Seq("geography")))))
    new Submitter(reg, Some(cacheDir)).submit(simple)
    val key = contentHash(reg.contentToken + canonical(simple))
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$cacheDir/cached_tables/$key/query.json")), "UTF-8")
    assert(graft.query.Json.parseProjectQuery(doc) == simple)
  }

  test("narrow-numeric filter values share one canonical form with their JSON round-trip") {
    // JSON carries one integral and one floating width, so a query built with
    // Int/Float values parses back wide; the cache key must not split in two
    def q(filters: Seq[DimensionFilter]) = ProjectQuery(
      name = "widths",
      datasets = DatasetSection(Seq(DatasetRef("dsA", filters = filters))))
    val narrow = q(Seq(
      DimensionFilter.ExpressionFilter("a", "=", 5),
      DimensionFilter.ColumnOperatorFilter("b", "isin", Seq(1, 2.toShort, 3.toByte)),
      DimensionFilter.BetweenFilter("c", 0.1f, 10)))
    val reparsed = graft.query.Json.parseProjectQuery(graft.query.Json.render(narrow))
    assert(canonical(reparsed) == canonical(narrow))
    // and the float round-trip preserves the VALUE (widened, not re-read as 0.1d)
    val hi = reparsed.datasets.datasets.head.filters.collect {
      case DimensionFilter.BetweenFilter(_, lo, _, _) => lo
    }.head
    assert(hi == 0.1f.toDouble)
  }

  test("composite dataset metadata sidecar round-trips") {
    val reg = buildRegistry()
    val sub = new Submitter(reg)
    sub.createCompositeDataset("combo",
      DatasetSection(Seq(DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state"))))))
    val meta = sub.compositeMetadata("combo")
    assert(meta("value_column") == ValueColumn)
    assert(meta("dimension_columns").asInstanceOf[Seq[String]].toSet == Set("geography", "sector", "metric"))
    assert(sub.submitComposite("combo", ResultSection(aggregations = Seq(Aggregation(Seq("geography"))))).count() == 2)
  }

  test("pivoted-format dataset is unpivoted to stacked form on load") {
    val reg = buildRegistry()
    // wide table: one column per metric record
    Registry.registerDataset(reg, "wide",
      Seq(("c1", 1.0, 10.0), ("c2", 2.0, 20.0)).toDF("geography", "elec", "gas"),
      format = Some(graft.registry.DatasetFormat("pivoted", Seq("elec", "gas"), "metric")))
    val stacked = reg.dataset("wide")
    assert(stacked.columns.toSet == Set("geography", "metric", ValueColumn))
    assert(stacked.count() == 4)
    val got = stacked.filter($"metric" === "gas").orderBy("geography")
      .select(ValueColumn).as[Double].collect().toSeq
    assert(got == Seq(10.0, 20.0))
  }

  test("sessionTimeZone pins the session tz during execution") {
    val reg = buildRegistry()
    val before = spark.conf.get("spark.sql.session.timeZone")
    val q = ProjectQuery(
      name = "tz_pinned",
      datasets = DatasetSection(Seq(DatasetRef("dsA"))),
      result = ResultSection(aggregations = Seq(Aggregation(Seq("geography")))),
      sessionTimeZone = Some("America/Denver"))
    val out = new Submitter(reg).submit(q)
    assert(out.count() == 4)
    assert(spark.conf.get("spark.sql.session.timeZone") == before) // restored
  }
}
