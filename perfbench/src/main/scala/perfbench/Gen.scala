package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.registry.{MappingTypes, Registry}

/** Seeded, in-process generator of dsgrid-shaped registries.
  *
  * Two layouts, both hourly data from 2018-01-01 00:00 UTC, a full year
  * (8760 hours) unless a shorter span is asked for:
  *
  *  - [[CountyLayout]]: one-table stacked load data at county level
  *    (timestamp, geography, metric, sector, subsector, scenario,
  *    model_year, weather_year, value), plus a many-to-one county→state
  *    mapping;
  *  - [[RegionLayout]]: the two-table layout (load_data(id, timestamp,
  *    value) + load_data_lookup(id, dimensions…, scaling_factor)) at region
  *    level, plus a one-to-many region→county disaggregation whose
  *    fractions sum to 1 per region.
  *
  * Every value is a pure function of the seed and the row's keys, so the
  * same (seed, factor) gives the same tables whatever the partitioning.
  * `factor` scales the number of geographies, and with it the row count;
  * the seed picks the states, county ids, time zones, fractions, scaling
  * factors and values.
  */
object Gen {

  val Year = 2018
  val Hours = 8760
  private val yearStartEpoch = java.time.LocalDateTime.of(Year, 1, 1, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC)

  /** (state id, FIPS prefix, time zone) candidates the seed draws from. */
  private val statePool = Seq(
    ("CA", "06", "America/Los_Angeles"), ("CO", "08", "America/Denver"),
    ("FL", "12", "America/New_York"), ("GA", "13", "America/New_York"),
    ("IL", "17", "America/Chicago"), ("MN", "27", "America/Chicago"),
    ("NY", "36", "America/New_York"), ("OR", "41", "America/Los_Angeles"),
    ("TX", "48", "America/Chicago"), ("UT", "49", "America/Denver"),
    ("WA", "53", "America/Los_Angeles"), ("AZ", "04", "America/Phoenix"))

  val Sector = "com"
  val ModelYear = "2030"
  val WeatherYear = "2018"

  /** Deterministic uniform draw in [0, 1) from the seed and some keys. */
  private def unit(seed: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: keys): _*), lit(1000003L)).cast("double") / 1000003.0

  private def draw(seed: Long, key: String): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(key, seed.toInt ^ (seed >>> 32).toInt)
    ((h.toLong & 0xffffffffL) % 1000003L).toDouble / 1000003.0
  }

  /** Seeded shuffle: stable for a seed, different across seeds. */
  private def shuffled[T](seed: Long, key: String, xs: Seq[T]): Seq[T] =
    xs.zipWithIndex.sortBy { case (_, i) => draw(seed, s"$key/$i") }.map(_._1)

  private def records(spark: SparkSession, fields: Seq[String], rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1),
      StructType(fields.map(StructField(_, StringType, nullable = false))))

  private def pick(values: Seq[String], index: Column): Column =
    element_at(array(values.map(lit): _*), (index + 1).cast("int"))

  private def hourlyTimestamp(hour: Column): Column =
    timestamp_seconds(lit(yearStartEpoch) + hour * 3600L)

  /** The hourly spine, as registration's time check expects it. */
  def spine(spark: SparkSession, hours: Int): DataFrame =
    spark.range(hours).select(hourlyTimestamp(col("id")).as("timestamp"))

  /** Daily-shaped positive load: a per-series base, an hour-of-day swing
    * and per-row noise. */
  private def load(seed: Long, series: Column, hour: Column): Column =
    (lit(1.0) + unit(seed, series) * 9.0) *
      (lit(1.0) + sin((hour % 24).cast("double") * (2 * math.Pi / 24)) * 0.5) +
      unit(seed + 1, series, hour)

  /** Row count and order-independent hash of each table, folded into one
    * 16-hex-digit content hash. */
  def contentHash(tables: Seq[(String, DataFrame)]): String = {
    val parts = tables.map { case (name, df) =>
      val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.sorted.map(col): _*), lit(2147483647L))))
        .head()
      s"$name:${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
    }
    graft.query.Models.contentHash(parts.mkString("\n"))
  }

  /** Dimension records shared by both layouts. */
  private def commonDims(spark: SparkSession, subsectors: Seq[String], scenarios: Seq[String]) = Seq(
    "sector" -> records(spark, Seq("id", "name"), Seq(Seq(Sector, "Commercial"))),
    "subsector" -> records(spark, Seq("id", "name"), subsectors.map(s => Seq(s, s.replace('_', ' ')))),
    "scenario" -> records(spark, Seq("id", "name"), scenarios.map(s => Seq(s, s.replace('_', ' ')))),
    "model_year" -> records(spark, Seq("id", "name"), Seq(Seq(ModelYear, ModelYear))),
    "weather_year" -> records(spark, Seq("id", "name"), Seq(Seq(WeatherYear, WeatherYear))))

  /** What a workload needs of a layout. */
  sealed trait Layout {
    def datasetId: String
    def mappingName: String
    /** Fact rows. */
    def rows: Long
    /** Register every table through the public registry API, validation on. */
    def register(root: String): Registry
    /** Row counts and mapping shape of a registered registry: the messages
      * of every failed expectation. */
    def selfCheck(reg: Registry): Seq[String]
    /** The registered mapping and fact tables, for the run's content hash. */
    def tables(reg: Registry): Seq[(String, DataFrame)]
  }

  /** County-level one-table data with a county→state mapping. */
  final case class CountyLayout(spark: SparkSession, seed: Long, factor: Int, hours: Int = Hours) extends Layout {
    require(factor >= 1, "factor must be at least 1")
    val datasetId = "comstock_county"
    val mappingName = "county_to_state"
    /** (state id, FIPS prefix, time zone) */
    val states: Seq[(String, String, String)] = shuffled(seed, "states", statePool).take(6).sortBy(_._1)
    val countiesPerState: Int = 2 * factor
    /** (county id, state id, time zone) */
    val counties: Seq[(String, String, String)] = states.flatMap { case (st, fips, tz) =>
      shuffled(seed, s"counties/$st", (1 to 99).map(k => f"$fips${2 * k - 1}%03d"))
        .take(countiesPerState).sorted.map(c => (c, st, tz))
    }
    /** (metric id, unit) */
    val metrics = Seq("electricity_cooling" -> "kWh", "natural_gas_heating" -> "therm")
    val subsectors = Seq("large_office", "small_office")
    val scenarios = Seq("reference", "high_electrification")
    val series: Int = counties.size * metrics.size * subsectors.size * scenarios.size
    val rows: Long = series.toLong * hours

    def dimensions: Seq[(String, DataFrame)] = Seq(
      "geography" -> records(spark, Seq("id", "name", "time_zone"),
        counties.map { case (c, st, tz) => Seq(c, s"County $c, $st", tz) }),
      "state" -> records(spark, Seq("id", "name", "time_zone"),
        states.map { case (st, _, tz) => Seq(st, st, tz) }),
      "metric" -> records(spark, Seq("id", "name", "unit"),
        metrics.map { case (m, u) => Seq(m, m.replace('_', ' '), u) })) ++
      commonDims(spark, subsectors, scenarios)

    def mapping: DataFrame =
      records(spark, Seq("from_id", "to_id"), counties.map { case (c, st, _) => Seq(c, st) })
        .withColumn("from_fraction", lit(1.0))

    /** Stacked load data; row id = series * hours + hour, with the series
      * index enumerating (county, metric, subsector, scenario). */
    def loadData: DataFrame = {
      val id = col("id")
      val hour = id % hours
      val s = (id / hours).cast("long")
      val scen = s % scenarios.size
      val sub = (s / scenarios.size).cast("long") % subsectors.size
      val met = (s / (scenarios.size * subsectors.size)).cast("long") % metrics.size
      val cty = (s / (scenarios.size * subsectors.size * metrics.size)).cast("long")
      spark.range(rows).select(
        hourlyTimestamp(hour).as("timestamp"),
        pick(counties.map(_._1), cty).as("geography"),
        pick(metrics.map(_._1), met).as("metric"),
        lit(Sector).as("sector"),
        pick(subsectors, sub).as("subsector"),
        pick(scenarios, scen).as("scenario"),
        lit(ModelYear).as("model_year"),
        lit(WeatherYear).as("weather_year"),
        load(seed, s, hour).as("value"))
    }

    def register(root: String): Registry = {
      val reg = Registry(spark, root)
      val dims = dimensions
      dims.foreach { case (name, recs) => Registry.registerDimension(reg, name, recs) }
      Registry.registerMapping(reg, mappingName, mapping, MappingTypes.ManyToOneAggregation,
        fromDimension = Some("geography"), toDimension = Some("state"))
      Registry.registerDataset(reg, datasetId, loadData,
        dimensionRecords = dims.filterNot(_._1 == "state").toMap,
        expectedTimestamps = Some(spine(spark, hours)),
        requireCompleteAssociations = true)
      reg
    }

    def selfCheck(reg: Registry): Seq[String] = {
      val n = reg.dataset(datasetId).count()
      val m = reg.mapping(mappingName)
      val badFrom = m.groupBy("from_id").agg(count(lit(1)).as("n"), sum("from_fraction").as("f"))
        .filter(col("n") =!= 1 || abs(col("f") - 1.0) > 1e-12).count()
      Seq(
        (n == rows) -> s"load data has $n rows, expected $rows",
        (m.count() == counties.size) -> s"county_to_state has ${m.count()} rows, expected ${counties.size}",
        (badFrom == 0) -> s"$badFrom counties do not map to exactly one state with fraction 1")
        .collect { case (false, msg) => msg }
    }

    def tables(reg: Registry): Seq[(String, DataFrame)] =
      Seq(mappingName -> reg.mapping(mappingName), datasetId -> reg.loadData(datasetId))
  }

  /** Region-level two-table data with a region→county disaggregation. */
  final case class RegionLayout(spark: SparkSession, seed: Long, factor: Int, hours: Int = Hours) extends Layout {
    require(factor >= 1, "factor must be at least 1")
    val datasetId = "resstock_region"
    val mappingName = "region_to_county"
    val fanOut = 6
    require(2 * factor <= statePool.size, s"factor $factor needs more than ${statePool.size} states")
    val regions: Seq[String] = (1 to 2 * factor).map(r => f"region_$r%02d")
    /** (region, county id, time zone, fraction); fractions sum to 1 per region */
    val counties: Seq[(String, String, String, Double)] = {
      val pool = shuffled(seed, "states", statePool)
      regions.zipWithIndex.flatMap { case (r, i) =>
        val (_, fips, tz) = pool(i % pool.size)
        val ids = shuffled(seed, s"counties/$r", (1 to 99).map(k => f"$fips${2 * k - 1}%03d"))
          .take(fanOut).sorted
        val weights = ids.map(c => 1.0 + draw(seed, s"weight/$r/$c"))
        ids.zip(weights).map { case (c, w) => (r, c, tz, w / weights.sum) }
      }
    }
    val metrics = Seq("electricity_total" -> "kWh", "natural_gas_total" -> "therm")
    val subsectors = Seq("single_family", "multi_family")
    val scenarios = Seq("reference", "high_electrification")
    /** lookup rows: (id, region, metric, subsector, scenario, scaling factor) */
    val lookupRows: Seq[(Long, String, String, String, String, Double)] = (for {
      r <- regions; (m, _) <- metrics; sub <- subsectors; scen <- scenarios
    } yield (r, m, sub, scen)).zipWithIndex.map { case ((r, m, sub, scen), i) =>
      (i.toLong, r, m, sub, scen, 0.5 + draw(seed, s"scaling/$i"))
    }
    val rows: Long = lookupRows.size.toLong * hours
    val outputRows: Long = rows * fanOut

    def dimensions: Seq[(String, DataFrame)] = Seq(
      "geography" -> records(spark, Seq("id", "name", "time_zone"),
        counties.map { case (r, c, tz, _) => Seq(c, s"County $c ($r)", tz) }),
      "region" -> records(spark, Seq("id", "name"), regions.map(r => Seq(r, r.replace('_', ' ')))),
      "metric" -> records(spark, Seq("id", "name", "unit"),
        metrics.map { case (m, u) => Seq(m, m.replace('_', ' '), u) })) ++
      commonDims(spark, subsectors, scenarios)

    def mapping: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(counties.map { case (r, c, _, f) => Row(r, c, f) }, 1),
      StructType(Seq(
        StructField("from_id", StringType, nullable = false),
        StructField("to_id", StringType, nullable = false),
        StructField("from_fraction", DoubleType, nullable = false))))

    def lookup: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(lookupRows.map { case (i, r, m, sub, scen, sf) =>
        Row(i, r, Sector, sub, scen, ModelYear, WeatherYear, m, sf)
      }, 1),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("geography", StringType, nullable = false),
        StructField("sector", StringType, nullable = false),
        StructField("subsector", StringType, nullable = false),
        StructField("scenario", StringType, nullable = false),
        StructField("model_year", StringType, nullable = false),
        StructField("weather_year", StringType, nullable = false),
        StructField("metric", StringType, nullable = false),
        StructField("scaling_factor", DoubleType, nullable = true))))

    /** load_data(id, timestamp, value); row = lookup id * hours + hour. */
    def loadData: DataFrame = {
      val hour = col("id") % hours
      val s = (col("id") / hours).cast("long")
      spark.range(rows).select(
        s.as("id"), hourlyTimestamp(hour).as("timestamp"), load(seed, s, hour).as("value"))
    }

    def register(root: String): Registry = {
      val reg = Registry(spark, root)
      val dims = dimensions
      dims.foreach { case (name, recs) => Registry.registerDimension(reg, name, recs) }
      Registry.registerMapping(reg, mappingName, mapping, MappingTypes.OneToManyDisaggregation,
        fromDimension = Some("region"), toDimension = Some("geography"))
      val recs = dims.toMap
      Registry.registerDataset(reg, datasetId, loadData,
        lookup = Some(lookup),
        dimensionRecords = (recs - "region" - "geography") + ("geography" -> recs("region")),
        expectedTimestamps = Some(spine(spark, hours)),
        requireCompleteAssociations = true)
      reg
    }

    def selfCheck(reg: Registry): Seq[String] = {
      val n = reg.loadData(datasetId).count()
      val m = reg.mapping(mappingName)
      val badFrom = m.groupBy("from_id").agg(count(lit(1)).as("n"), sum("from_fraction").as("f"))
        .filter(col("n") =!= fanOut || abs(col("f") - 1.0) > 1e-9).count()
      val lk = reg.lookup(datasetId).map(_.count()).getOrElse(0L)
      Seq(
        (n == rows) -> s"load data has $n rows, expected $rows",
        (lk == lookupRows.size) -> s"lookup has $lk rows, expected ${lookupRows.size}",
        (m.count() == counties.size) -> s"region_to_county has ${m.count()} rows, expected ${counties.size}",
        (badFrom == 0) -> s"$badFrom regions do not split into $fanOut counties with fractions summing to 1")
        .collect { case (false, msg) => msg }
    }

    def tables(reg: Registry): Seq[(String, DataFrame)] =
      Seq(mappingName -> reg.mapping(mappingName), datasetId -> reg.loadData(datasetId),
        s"$datasetId/lookup" -> reg.lookup(datasetId).get)
  }
}
