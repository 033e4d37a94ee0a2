package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Core constants of the engine's data model.
  *
  * The reference keeps the fact-table value in a single double column and
  * accumulates mapping fractions in a running column
  * (ref: dsgrid/common.py VALUE_COLUMN; dsgrid/utils/dataset.py:59-80).
  */
object Constants {
  val ValueColumn = "value"
  val FractionColumn = "fraction"
  val ScalingFactorColumn = "scaling_factor"
  val FromIdColumn = "from_id"
  val ToIdColumn = "to_id"
  val FromFractionColumn = "from_fraction"
  val TimeZoneColumn = "time_zone"
  /** Target output-file size for the auto-partitioning parquet sink
    * (ref: dsgrid/utils/spark.py:61 MAX_PARTITION_SIZE_MB). */
  val MaxPartitionSizeMb = 128
  val MinWritePartitions = 36
}

/** The eight fixed dimension types every dataset declares
  * (ref: dsgrid/dimension/base_models.py:12-23). */
sealed abstract class DimensionType(val name: String)
object DimensionType {
  case object Metric extends DimensionType("metric")
  case object Geography extends DimensionType("geography")
  case object Sector extends DimensionType("sector")
  case object Subsector extends DimensionType("subsector")
  case object Time extends DimensionType("time")
  case object WeatherYear extends DimensionType("weather_year")
  case object ModelYear extends DimensionType("model_year")
  case object Scenario extends DimensionType("scenario")

  val all: Seq[DimensionType] =
    Seq(Metric, Geography, Sector, Subsector, Time, WeatherYear, ModelYear, Scenario)
  /** The stacked (non-time) dimension columns. */
  val stacked: Seq[DimensionType] = all.filterNot(_ == Time)
  def fromName(s: String): DimensionType =
    all.find(_.name == s).getOrElse(throw new IllegalArgumentException(s"unknown dimension type: $s"))
}

/** A dimension record: id + display name, plus optional per-type attributes
  * (geography carries time_zone, metric carries unit)
  * (ref: dsgrid/dimension/base_models.py:54-83, dsgrid/units/convert.py:39). */
case class DimensionRecord(
    id: String,
    name: String,
    time_zone: Option[String] = None,
    unit: Option[String] = None)

/** One row of a dimension-mapping table
  * (ref: dsgrid/config/mapping_tables.py:23-46). A null toId means the
  * from-record maps to nothing and is dropped by the mapping join. */
case class MappingRecord(from_id: String, to_id: Option[String], from_fraction: Double = 1.0)

/** Declared-or-inferred file schema: names columns, optional dtypes,
  * rename-to-dimension mappings and ignore columns
  * (ref: dsgrid/config/file_schema.py:20-77). */
case class FileSchema(
    columns: Seq[(String, String)] = Nil, // (name, typeName); empty => infer
    renames: Map[String, String] = Map.empty, // source col -> dimension col
    ignoreColumns: Seq[String] = Nil) {
  def toStructType: Option[StructType] =
    if (columns.isEmpty) None
    else Some(StructType(columns.map { case (n, t) => StructField(n, SqlTypes.fromName(t)) }))
}

/** Supported column types (ref: dsgrid/spark/types.py:52-104). No nested /
  * decimal / interval types appear in reference data tables. */
object SqlTypes {
  def fromName(name: String): DataType = name.trim.toUpperCase match {
    case "BOOLEAN" => BooleanType
    case "INT" | "INTEGER" => IntegerType
    case "TINYINT" => ByteType
    case "SMALLINT" => ShortType
    case "BIGINT" | "LONG" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "TIMESTAMP_TZ" | "TIMESTAMP" => TimestampType
    case "TIMESTAMP_NTZ" => TimestampNTZType
    case "STRING" | "TEXT" | "VARCHAR" => StringType
    case "DATE" => DateType
    case other => throw new IllegalArgumentException(s"unsupported type: $other")
  }
}

/** Session factory with the scale-aware defaults this engine assumes:
  * AQE on (skew-join + partition coalescing), shuffle partitions sized to
  * cores rather than the 200 default, explicit session time zone
  * (ref session handling: dsgrid/utils/spark.py:76-125,854-864). */
object GraftSession {
  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32,
      timeZone: String = "UTC"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", timeZone)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Parquet TIMESTAMP(NANOS) columns (unsupported natively) surface as
      // long nanos; readers convert explicitly (`timestamp_micros(ns div 1000)`).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // native codegen vector functions (fvec_dot)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with runtime conf overrides, then restore each key's
    * previous value, or unset it if it had none (ref:
    * dsgrid/utils/spark.py:823-850 custom_spark_conf; the reference restarts
    * its session for a time-zone override, query_submitter.py:697-714 —
    * in-JVM a scoped set/restore suffices). Spark reads most conf at
    * analysis or execution time, so materialize inside the scope. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val previous = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
