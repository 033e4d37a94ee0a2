package graft.query

import graft.operators.DimensionFilter

/** Declarative query models — the Scala case-class ADT mirroring the
  * reference's pydantic models (ref: dsgrid/query/models.py:579-728
  * ProjectQueryModel / DatasetQueryModel and nested sections). Discriminated
  * unions become sealed traits; everything is data, the Submitter interprets.
  */
object Models {

  /** How a dataset's dimension column maps onto the project dimension space:
    * apply the named mapping tables in order (ref mapping plan,
    * dsgrid/query/dataset_mapping_plan.py). */
  final case class DimensionMappingRef(
      dimension: String, // column name, e.g. "geography"
      mappingName: String, // registry key of the mapping table
      /** persist the frame right after this mapping step (plan-cut — ref
        * per-op persist flags, dsgrid/query/dataset_mapping_plan.py:64-143) */
      persist: Boolean = false,
      /** salted repartition after an explosive one-to-many disaggregation
        * (ref per-op repartition, dataset_mapping_plan.py + the documented
        * IEF skew incident) */
      saltPartitions: Option[Int] = None)

  /** Growth-rate composition for a projection dataset: the growth dataset is
    * mapped to project space like any other, then applied to the initial
    * values — exponential `(1+r)^(year-base)` or plain multiplier
    * (ref projection datasets: dsgrid/project.py:302-416,
    * dsgrid/dataset/growth_rates.py). */
  final case class GrowthSpec(
      datasetId: String,
      mappings: Seq[DimensionMappingRef] = Nil,
      joinColumns: Seq[String],
      modelYearColumn: String = "model_year",
      baseYear: Int = 0,
      kind: String = "exponential") // "exponential" | "multiplier"

  /** One source dataset inside a project query (ref
    * StandaloneDatasetModel / projection datasets at models.py). */
  final case class DatasetRef(
      datasetId: String,
      mappings: Seq[DimensionMappingRef] = Nil,
      /** optional persist point after mapping (plan-cut — ref
        * DatasetMappingPlan persist flags) */
      persist: Boolean = false,
      /** present → this is a projection dataset: initial values grown by the
        * referenced growth-rate dataset */
      growth: Option[GrowthSpec] = None,
      /** per-dataset dimension filters, expressed in PROJECT dimension space
        * and applied BEFORE the mapping joins by translating record ids back
        * through this dataset's mapping chain — the semantic scan-pruning
        * pushdown Catalyst cannot do on its own (ref:
        * ProjectQueryDatasetParamsModel.dimension_filters, models.py:291-298;
        * prefilter at dataset_schema_handler_base.py:592-646) */
      filters: Seq[DimensionFilter] = Nil,
      /** raw-column → dimension-column renames applied at load, so datasets
        * whose files disagree on column names combine in one project space
        * (ref QueryContext column naming,
        * dataset_schema_handler_base.py:497-518) */
      columnRenames: Seq[(String, String)] = Nil,
      /** Spark conf overrides applied ONLY while this dataset is mapped —
        * the skew/size levers (shuffle partitions, broadcast threshold, AQE
        * knobs) one giant dataset needs without re-tuning the whole query
        * (ref SparkConfByDataset + custom_spark_conf, models.py:284-289,
        * utils/spark.py:823-850). Non-empty conf forces eager
        * materialization of the mapped frame inside the conf window — the
        * reference does the same by restarting the session and writing the
        * mapped dataset to parquet before restoring (project.py:255-285).
        * Excluded from cache keys, like the reference's exclusion of
        * spark_conf_per_dataset from its query hash (models.py:608). */
      sparkConf: Seq[(String, String)] = Nil)

  /** The dataset-combination section: dataset refs + an expression over
    * their ids (`"a | b"`, `"(a - b) * c"`); default union of all. */
  final case class DatasetSection(
      datasets: Seq[DatasetRef],
      expression: Option[String] = None)

  /** A named aggregation: groupBy these dimension columns, apply `fn` (a
    * whitelisted name) to the value column (ref AggregationModel,
    * models.py:64-158). */
  final case class Aggregation(
      groupBy: Seq[String],
      fn: String = "sum")

  /** Attach a supplemental-dimension column: map the base dimension's ids
    * through a base-to-supplemental mapping and carry the supplemental id in
    * a new column (ref supplemental-column add,
    * dsgrid/dataset/table_format_handler_base.py:31-113). */
  final case class SupplementalColumn(
      dimension: String,
      mappingName: String,
      columnName: String)

  /** Result-shaping section (ref query_submitter postprocess). */
  final case class ResultSection(
      filters: Seq[DimensionFilter] = Nil,
      /** supplemental columns are attached before aggregation so they can be
        * grouped on */
      supplementalColumns: Seq[SupplementalColumn] = Nil,
      aggregations: Seq[Aggregation] = Nil,
      /** replace ids with record names for these dimensions */
      idsToNames: Seq[String] = Nil,
      sortBy: Seq[String] = Nil,
      /** pivot this dimension's records into columns on output */
      pivotDimension: Option[String] = None,
      /** convert the time column to this zone on output; the literal
        * `"geography"` converts each row to its geography's local zone via
        * the geography dimension records (ref: models.py:530-535 accepts the
        * same literal; conversion at query_submitter.py:335-457) */
      timeZone: Option[String] = None,
      /** convert metric values to this unit on output */
      toUnit: Option[String] = None,
      /** reports computed from the result and written beside it
        * (ref ReportInputModel, models.py:193-196) */
      reports: Seq[ReportSpec] = Nil,
      /** final output column renames — the reference's query-name output
        * naming: internal columns are dimension-type names; this maps them
        * to the caller's presentation names at the very end */
      outputRenames: Seq[(String, String)] = Nil,
      /** what the result's dimension columns are named (ref ColumnType,
        * models.py:104-109,513-519,568-576): `"dimension_types"` keeps the
        * engine's internal type names (geography, sector, …) — required to
        * register the result as a derived dataset, which must stay
        * re-queryable by type name; `"dimension_names"` presents the
        * caller's names via outputRenames/idsToNames. Validation enforces
        * that dimension_types queries carry no outputRenames.
        *
        * DIVERGENCE from the reference: the reference's document default is
        * `dimension_names` (models.py:513-519); graft's Scala default is
        * `dimension_types` because the programmatic API's common case is
        * derived-dataset registration. The JSON renderer therefore ALWAYS
        * emits `column_type` explicitly (Json.render), and the parser infers
        * `dimension_names` for legacy rename-bearing documents missing the
        * field, so no sidecar is ever read with the opposite meaning. */
      columnType: String = Models.ColumnTypeDimensionTypes)

  /** Report attachments (ref: dsgrid/query/models.py:186-196 + the peak-load
    * report, report_peak_load.py). */
  sealed trait ReportSpec { def name: String }
  final case class PeakLoadReport(
      groupBy: Seq[String],
      keepTies: Boolean = false,
      tieBreak: Seq[String] = Nil) extends ReportSpec {
    def name: String = "peak_load"
  }

  /** A project query: map each dataset to the project dimension space,
    * combine, post-process (ref ProjectQueryModel). `sessionTimeZone` pins
    * the session tz for the query's whole execution (the reference restarts
    * the session with the project tz, query_submitter.py:697-714). */
  final case class ProjectQuery(
      name: String,
      datasets: DatasetSection,
      result: ResultSection = ResultSection(),
      sessionTimeZone: Option[String] = None)

  /** A dataset query: one dataset mapped to target dimensions, no project
    * combine semantics (ref DatasetQueryModel, §3.2). */
  final case class DatasetQuery(
      name: String,
      dataset: DatasetRef,
      result: ResultSection = ResultSection())

  val SessionTimeZoneKey = "spark.sql.session.timeZone"

  /** Deterministic canonical serialization for content-hash caching
    * (ref: query_submitter.py:133-160 hashes canonical JSON). Case-class
    * toString is stable for the data-free ADT, but DataFrame-bearing filters
    * stringify as schema only — they are first replaced by content-hashed
    * stand-ins (two queries differing only in subset-record contents must
    * hash differently). Callers fold a registry content token into the key
    * so registry mutations invalidate (the reference hashes project version
    * + dataset configs, query_submitter.py:133-171). */
  /** sparkConf is execution tuning, not semantics: two runs differing only
    * in tuning conf produce identical results and must share a cache entry
    * (the reference excludes spark_conf_per_dataset from its query hash for
    * the same reason, models.py:608). The session time zone is the
    * exception: string timestamp bounds of a `between` filter cast in it,
    * so it changes the rows and stays in the key. */
  private def canonicalRef(ref: DatasetRef): DatasetRef =
    ref.copy(filters = ref.filters.map(DimensionFilter.canonicalize),
      sparkConf = ref.sparkConf.filter(_._1 == SessionTimeZoneKey))

  def canonical(ref: DatasetRef): String =
    canonicalRef(ref).toString

  def canonical(q: ProjectQuery): String =
    q.copy(
      datasets = q.datasets.copy(datasets = q.datasets.datasets.map(canonicalRef)),
      result = q.result.copy(filters = q.result.filters.map(DimensionFilter.canonicalize)))
      .toString

  def canonical(q: DatasetQuery): String =
    q.copy(
      dataset = canonicalRef(q.dataset),
      result = q.result.copy(filters = q.result.filters.map(DimensionFilter.canonicalize)))
      .toString

  /** ColumnType values (ref models.py:104-109). */
  val ColumnTypeDimensionTypes = "dimension_types"
  val ColumnTypeDimensionNames = "dimension_names"

  def contentHash(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }
}
