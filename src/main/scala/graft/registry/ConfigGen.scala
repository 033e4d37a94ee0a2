package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.query.Json.mapper

/** Config generators — bootstrap registration from the data itself (ref:
  * dsgrid/registry/dataset_config_generator.py:1-158,
  * project_config_generator.py:1-57 — the reference's onboarding
  * affordance: introspect a dataset table, guess the dimension columns,
  * extract their unique records, reuse matching registered dimensions,
  * and emit a config the user can register without hand-writing anything).
  *
  * Column classification mirrors the reference's table introspection:
  * caller-named time columns (default {"timestamp"}) plus any
  * timestamp/date-typed column are TIME; numeric columns are VALUES;
  * everything else (strings) is a DIMENSION whose records are the distinct
  * values, named by the reference's `str.title().replace("_", " ")`
  * convention (dataset_config_generator.py:88-99). Matching against
  * already-registered dimensions compares distinct id SETS, exactly like
  * `find_matching_registry_dimensions`.
  */
object ConfigGen {

  /** A generated (unvalidated) dataset config: which columns play which
    * role, fresh records for unmatched dimension columns, and the names of
    * registered dimensions whose record sets already match. */
  final case class GeneratedDatasetConfig(
      datasetId: String,
      dimensionColumns: Seq[String],
      timeColumns: Seq[String],
      valueColumns: Seq[String],
      /** dimension column → generated (id, name) records — only for
        * columns NO registered dimension matched */
      newRecords: Map[String, DataFrame],
      /** dimension column → name of the registered dimension whose id set
        * equals the column's distinct values */
      matchedDimensions: Map[String, String])

  /** Introspect `data` and build a registration-ready config against the
    * registry's already-registered dimensions. */
  def generateDatasetConfig(
      reg: Registry,
      datasetId: String,
      data: DataFrame,
      timeColumns: Set[String] = Set("timestamp")): GeneratedDatasetConfig = {
    val fields = data.schema.fields.toSeq
    def isTime(f: StructField) = timeColumns.contains(f.name) || (f.dataType match {
      case TimestampType | TimestampNTZType | DateType => true
      case _ => false
    })
    def isValue(f: StructField) = f.dataType match {
      case DoubleType | FloatType | _: DecimalType | LongType | IntegerType | ShortType => true
      case _ => false
    }
    val time = fields.filter(isTime).map(_.name)
    val values = fields.filterNot(isTime).filter(isValue).map(_.name)
    val dims = fields.filterNot(isTime).filterNot(isValue).map(_.name)
    require(dims.nonEmpty || time.nonEmpty,
      s"generateDatasetConfig($datasetId): no dimension or time columns found " +
        s"(schema: ${fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")})")
    // registered id sets once, for the matching pass (dimension records are
    // metadata-sized; the sorted-distinct collect mirrors the reference's
    // get_unique_dimension_record_ids comparison)
    val registered: Seq[(String, Set[String])] = reg.listDimensions().map { d =>
      d -> reg.dimensionRecords(d).select(col("id").cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
    }
    val columnIds: Map[String, Set[String]] = dims.map { c =>
      c -> data.select(col(c).cast("string")).distinct().collect().map(_.getString(0)).toSet
    }.toMap
    val matchedMap = dims.flatMap { c =>
      registered.find(_._2 == columnIds(c)).map { case (d, _) => c -> d }
    }.toMap
    val records = dims.filterNot(matchedMap.contains).map { c =>
      // the reference's record synthesis: name = id.title().replace('_',' ')
      c -> data.select(col(c).cast("string").as("id")).distinct()
        .withColumn("name", initcap(regexp_replace(col("id"), "_", " ")))
        .orderBy("id")
    }.toMap
    GeneratedDatasetConfig(datasetId, dims, time, values, records, matchedMap)
  }

  /** Register everything a generated config describes: fresh dimensions
    * first, then the dataset with the full dimension-records context armed
    * (matched dimensions supply their registered records), so the normal
    * validation suite runs — "generate, edit nothing, register" must
    * succeed on a clean table. */
  def registerGenerated(
      reg: Registry,
      gen: GeneratedDatasetConfig,
      data: DataFrame,
      validate: Boolean = true): Unit = {
    gen.newRecords.foreach { case (c, recs) =>
      Registry.registerDimension(reg, c, recs)
    }
    val context = gen.newRecords.map { case (c, recs) => c -> recs } ++
      gen.matchedDimensions.map { case (c, d) => c -> reg.dimensionRecords(d) }
    Registry.registerDataset(reg, gen.datasetId, data,
      dimensionRecords = context.toMap, validate = validate)
  }

  /** The generated config as JSON — what the CLI verb writes beside the
    * extracted record files for hand-editing before registration. */
  def toJson(gen: GeneratedDatasetConfig): String = {
    val node = mapper.createObjectNode()
    node.put("dataset_id", gen.datasetId)
    def arr(name: String, xs: Seq[String]): Unit = {
      val a = node.putArray(name); xs.foreach(a.add)
    }
    arr("dimension_columns", gen.dimensionColumns)
    arr("time_columns", gen.timeColumns)
    arr("value_columns", gen.valueColumns)
    val matched = node.putObject("matched_dimensions")
    gen.matchedDimensions.toSeq.sortBy(_._1).foreach { case (c, d) => matched.put(c, d) }
    arr("new_dimensions", gen.newRecords.keys.toSeq.sorted)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }

  /** Project bootstrap (ref: project_config_generator.py) — graft projects
    * are query documents, so the skeleton is a runnable ProjectQuery JSON
    * over the given datasets: every dataset included unmapped, one
    * aggregation over the shared dimension columns, ready to edit. */
  def generateProjectQueryJson(
      reg: Registry,
      name: String,
      datasetIds: Seq[String]): String = {
    require(datasetIds.nonEmpty, "generateProjectQueryJson: at least one dataset id")
    val unknown = datasetIds.filterNot(reg.listDatasets().contains)
    require(unknown.isEmpty, s"generateProjectQueryJson: no such dataset(s): ${unknown.mkString(", ")}")
    // shared non-value columns across the datasets = the project dimension space
    val shared = datasetIds
      .map(d => reg.dataset(d).columns.toSet - graft.core.Constants.ValueColumn)
      .reduce(_ intersect _)
    val node = mapper.createObjectNode()
    node.put("name", name)
    val ds = node.putObject("datasets")
    val refs = ds.putArray("datasets")
    datasetIds.foreach { d =>
      val r = refs.addObject()
      r.put("dataset_id", d)
      r.putArray("mappings")
    }
    val res = node.putObject("result")
    val aggs = res.putArray("aggregations")
    val a = aggs.addObject()
    val gb = a.putArray("group_by")
    shared.toSeq.sorted.foreach(gb.add)
    a.put("fn", "sum")
    val sort = res.putArray("sort_by")
    shared.toSeq.sorted.foreach(sort.add)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }
}
