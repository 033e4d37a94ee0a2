package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import graft.core.Constants._
import graft.operators.DimensionFilter
import graft.query.CurationModels._
import graft.query.Models._
import graft.query.{CurationSubmitter, Submitter}
import graft.registry.Registry

/** The content-keyed store: map steps, persisted datasets and curation
  * checkpoints are reused whenever their entry exists, with no opt-in flag,
  * and every key folds in what changes the frame. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  /** Two counties per state, a county→state mapping named `mapping`, a
    * per-county dataset `dsA` and an hourly dataset `dsT` (one row per UTC
    * hour of 2012-01-01, value = the hour). */
  private def buildRegistry(mapping: String = "county_to_state"): Registry = {
    val reg = Registry(spark, Files.createTempDirectory("graft-store-registry").toString)
    Registry.registerDimension(reg, "geography",
      Seq(("c1", "County 1"), ("c2", "County 2"), ("c3", "County 3"), ("c4", "County 4")).toDF("id", "name"))
    Registry.registerMapping(reg, mapping,
      Seq(("c1", "s1", 1.0), ("c2", "s1", 1.0), ("c3", "s2", 1.0), ("c4", "s2", 1.0))
        .toDF(FromIdColumn, ToIdColumn, FromFractionColumn))
    Registry.registerDataset(reg, "dsA",
      Seq(("c1", "com", 1.0), ("c2", "com", 2.0), ("c3", "res", 3.0), ("c4", "res", 4.0))
        .toDF("geography", "sector", ValueColumn))
    Registry.registerDataset(reg, "dsT",
      (0 until 24).map(h => ("c1", Timestamp.from(Instant.parse(f"2012-01-01T$h%02d:00:00Z")), h.toDouble))
        .toDF("geography", "timestamp", ValueColumn))
    reg
  }

  private def files(root: Path, keep: Path => Boolean): Set[String] =
    if (!Files.exists(root)) Set.empty
    else scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && keep(p)).map(_.toString).toSet)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList).reverse.foreach(Files.delete)

  test("a second Submitter without a cache dir reuses a persisted map step") {
    // a mapping name of its own, so this test's steps are the only ones
    // under the shared scratch store that carry it
    val mapping = s"c2s_${java.util.UUID.randomUUID().toString.take(8)}"
    val reg = buildRegistry(mapping)
    val ref = DatasetRef("dsA", Seq(DimensionMappingRef("geography", mapping, persist = true)))
    val store = Paths.get(sys.props("java.io.tmpdir"), "graft-cache")
    // only this test's entries are walked: other suites publish beside them
    def steps() = scala.util.Using.resource(Files.list(store))(_.iterator().asScala
      .filter(_.getFileName.toString.contains(s"_geography_$mapping")).toList)
    def stepFiles() = steps().flatMap(files(_, _.toString.endsWith(".parquet"))).toSet
    try {
      val first = sortedRows(new Submitter(reg).mapDataset(ref))
      val written = stepFiles()
      assert(written.nonEmpty)
      assert(sortedRows(new Submitter(reg).mapDataset(ref)) == first)
      assert(stepFiles() == written, "the map step must be reused, not rewritten")
    } finally steps().foreach(deleteTree)
  }

  test("a second CurationSubmitter reuses a persisted stage without any flag") {
    val dir = Files.createTempDirectory("graft-store-corpus").toString
    Seq((1L, "the quick brown fox", "web"), (2L, "the quick brown fox", "web"), (3L, "a lazy dog", "books"))
      .toDF("doc_id", "text", "source").coalesce(1).write.parquet(s"$dir/docs.parquet")
    val cache = Files.createTempDirectory("graft-store-steps")
    val plan = CurationPlan("steps", "docs", Seq(ExactDedupStage(persist = true), SortStage(Seq("doc_id"))))
    def stepFiles() = files(cache.resolve("curation_steps"), _ => true)
    val first = sortedRows(new CurationSubmitter(spark, dir, Some(cache.toString)).submit(plan))
    val written = stepFiles()
    assert(written.exists(_.endsWith(".parquet")))
    // drop the published result so the plan runs again down to its step
    deleteTree(cache.resolve("cached_tables"))
    assert(sortedRows(new CurationSubmitter(spark, dir, Some(cache.toString)).submit(plan)) == first)
    assert(stepFiles() == written, "the curation step must be reused, not rewritten")
  }

  test("a curation step is not reused after a side table it reads changes") {
    val dir = Files.createTempDirectory("graft-store-side").toString
    Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, "one two three four five six"),
      (3L, "red green blue cyan magenta yellow"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/docs.parquet")
    def writeBench(text: String): Unit =
      Seq((100L, text)).toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(s"$dir/bench.parquet")
    val cache = Some(Files.createTempDirectory("graft-store-side-cache").toString)
    def plan(last: CurationStage) =
      CurationPlan("side", "docs", Seq(DecontaminateStage("bench", ngram = 3, persist = true), last))
    writeBench("alpha beta gamma delta epsilon zeta")
    val first = new CurationSubmitter(spark, dir, cache).submit(plan(SortStage(Seq("doc_id"))))
    assert(first.select("doc_id").as[Long].collect().toSeq == Seq(2L, 3L))
    // the benchmark now overlaps doc 2; a later stage changes, so the
    // result is rebuilt from the decontaminate step's key
    writeBench("one two three four five six")
    val later = plan(SelectStage(Seq("doc_id")))
    val uncached = sortedRows(new CurationSubmitter(spark, dir).submit(later))
    assert(uncached == Seq(Seq(1L), Seq(3L)))
    assert(sortedRows(new CurationSubmitter(spark, dir, cache).submit(later)) == uncached)
  }

  test("a persisted dataset under a cache dir is stored once") {
    val reg = buildRegistry()
    val cache = Files.createTempDirectory("graft-store-persist")
    val ref = DatasetRef("dsA", Seq(DimensionMappingRef("geography", "county_to_state")), persist = true)
    assert(new Submitter(reg, Some(cache.toString)).mapDataset(ref).count() == 2)
    val mapped = scala.util.Using.resource(Files.walk(cache))(_.iterator().asScala
      .filter(_.getFileName.toString.startsWith("mapped_")).map(cache.relativize(_).toString).toList)
    assert(mapped.size == 1, s"mapped entries: $mapped")
  }

  test("a mapped dataset built under one session time zone is not reused under another") {
    val reg = buildRegistry()
    val cache = Files.createTempDirectory("graft-store-tz").toString
    // string bounds cast to timestamps in the session zone: 00:00-03:00
    // is UTC hours 0-3 under UTC and hours 7-10 under Denver (UTC-7)
    val ref = DatasetRef("dsT",
      filters = Seq(DimensionFilter.BetweenFilter("timestamp", "2012-01-01 00:00:00", "2012-01-01 03:00:00")))
    val a = ProjectQuery("tz_a", DatasetSection(Seq(ref)),
      ResultSection(aggregations = Seq(Aggregation(Seq("geography")))), sessionTimeZone = Some("America/Denver"))
    val b = ProjectQuery("tz_b", DatasetSection(Seq(ref)), ResultSection(sortBy = Seq("timestamp")))
    assert(rows(new Submitter(reg, Some(cache)).submit(a)).map(_(1)) == Seq(34.0))
    val uncached = rows(new Submitter(reg).submit(b))
    assert(uncached.map(_.last) == Seq(0.0, 1.0, 2.0, 3.0))
    assert(rows(new Submitter(reg, Some(cache)).submit(b)) == uncached)
  }

  test("refs differing only in a spark_conf session time zone share no stored entry") {
    val reg = buildRegistry()
    val cache = Files.createTempDirectory("graft-store-conf-tz").toString
    val plain = DatasetRef("dsT",
      filters = Seq(DimensionFilter.BetweenFilter("timestamp", "2012-01-01 00:00:00", "2012-01-01 03:00:00")))
    val denver = plain.copy(sparkConf = Seq("spark.sql.session.timeZone" -> "America/Denver"))
    def q(ref: DatasetRef) = ProjectQuery("conf_tz", DatasetSection(Seq(ref)), ResultSection(sortBy = Seq("timestamp")))
    // under Denver the string bounds are UTC hours 7-10
    assert(rows(new Submitter(reg, Some(cache)).submit(q(denver))).map(_.last) == Seq(7.0, 8.0, 9.0, 10.0))
    val uncached = rows(new Submitter(reg).submit(q(plain)))
    assert(uncached.map(_.last) == Seq(0.0, 1.0, 2.0, 3.0))
    assert(rows(new Submitter(reg, Some(cache)).submit(q(plain))) == uncached)
    assert(sortedRows(new Submitter(reg, Some(cache)).mapDataset(plain)) == sortedRows(new Submitter(reg).mapDataset(plain)))
  }

  test("validate(DatasetQuery) runs the project checks: growth kind and report columns") {
    val reg = buildRegistry()
    val sub = new Submitter(reg)
    val growth = DatasetQuery("g", DatasetRef("dsA",
      growth = Some(GrowthSpec("dsA", joinColumns = Seq("geography"), kind = "quadratic"))))
    assert(intercept[IllegalArgumentException](sub.validate(growth)).getMessage
      .contains("unknown growth kind 'quadratic'"))
    val report = DatasetQuery("r", DatasetRef("dsA"), ResultSection(reports = Seq(PeakLoadReport(Seq("nope")))))
    assert(intercept[IllegalArgumentException](sub.validate(report)).getMessage
      .contains("report groups by 'nope'"))
  }
}
