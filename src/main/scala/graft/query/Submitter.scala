package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Constants._
import graft.operators.{Aggregation => AggOps, DatasetExpr, DimensionFilter, MappingKernel, PreFilter, Reshape}
import graft.functions.Units
import graft.registry.Registry
import graft.sources.{HadoopFs, Readers, Writers}
import graft.time.TimeZones
import Models._

/** Query execution — the engine's §3 lifecycle as one interpreter over the
  * declarative models (ref: dsgrid/query/query_submitter.py:659-989 +
  * dsgrid/project.py:181-300, re-expressed Spark-first):
  *
  *   per dataset:  read → rename → semantic prefilter → mapping joins
  *                 (broadcast, with per-op persist/salt knobs) → fraction
  *                 collapse → scaling factor  [stage 4]
  *   combine:      dataset expression over aligned frames  [stage 5]
  *   post-process: filters → aggregations → ids→names → unit convert →
  *                 tz convert → sort → pivot → reports  [stage 6]
  *
  * Differences from the reference, by design:
  *   - no SparkSession restarts between datasets (runtime conf suffices in
  *     one JVM; per-dataset tuning is a repartition, not a new cluster app);
  *   - caching is optional and file-based (`cacheDir`), keyed by the
  *     query's content hash + a registry content token exactly like the
  *     reference's two-level cache (query_submitter.py:133-171) — a cluster
  *     points this at shared scratch storage so repeated queries skip
  *     stages 1-5. Every entry (result, mapped dataset, map step) goes
  *     through [[FileCache]]: written to a temp dir, published by atomic
  *     rename, reused whenever its key exists.
  */
final class Submitter(registry: Registry, cacheDir: Option[String] = None) {

  private def spark: SparkSession = registry.spark

  /** Registry content token, folded into every cache and persist key so
    * registry mutations invalidate (computed once per Submitter — build a
    * fresh Submitter to observe later mutations). */
  private lazy val registryToken: String = registry.contentToken

  /** The store of persisted datasets and map steps: the `cacheDir`, else a
    * scratch dir shared by every Submitter in the JVM's temp dir. */
  private def storeBase: String = cacheDir.getOrElse(sys.props("java.io.tmpdir") + "/graft-cache")

  /** The content key of everything built from `ref`: registry state, the
    * session time zone the ref's filters resolve under (string timestamp
    * bounds cast in that zone: the ref's `spark_conf` zone when it sets
    * one, else the session's, so the key is the same inside and outside
    * the ref's conf window) and the canonical ref. Canonicalization may
    * collect filter record sets, so callers compute it only when storing. */
  private def refKey(ref: DatasetRef): String = {
    val zone = ref.sparkConf.toMap.getOrElse(SessionTimeZoneKey, spark.conf.get(SessionTimeZoneKey))
    Models.contentHash(registryToken + zone + Models.canonical(ref))
  }

  /** Stage 4: one dataset mapped onto the project dimension space;
    * projection datasets then apply their growth-rate dataset. With a
    * `cacheDir` or `"persist": true`, the mapped result is stored per
    * dataset — the reference's first cache level
    * (cached_project_mapped_datasets, dsgrid/project.py:418-449); the
    * combined query result is the second. */
  def mapDataset(ref: DatasetRef): DataFrame =
    if (cacheDir.isDefined || ref.persist)
      FileCache.cached(spark, s"$storeBase/cached_tables", "mapped_" + refKey(ref))(mapDatasetUncached(ref))
    else mapDatasetUncached(ref)

  private def mapDatasetUncached(ref: DatasetRef): DataFrame =
    if (ref.sparkConf.isEmpty) buildMappedDataset(ref)
    else graft.core.GraftSession.withConf(spark, ref.sparkConf: _*) {
      // materialize INSIDE the conf window: Spark reads most conf at
      // physical-planning/execution time, so a lazily returned plan would
      // execute after restore and never see the overrides. The reference
      // does the same — restart with custom conf, WRITE the mapped
      // dataset, restore (project.py:255-285). localCheckpoint doubles as
      // the plan cut the reference's parquet round-trip provides.
      buildMappedDataset(ref).localCheckpoint()
    }

  private def buildMappedDataset(ref: DatasetRef): DataFrame = {
    val raw = registry.dataset(ref.datasetId)
    val renamed = ref.columnRenames.foldLeft(raw) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to)
    }
    val resolvedFilters = ref.filters.map(resolveFilter)
    val base = prefilterDataset(renamed, resolvedFilters, ref)
    // loop-invariant: computed at most once, only if some mapping persists
    lazy val key = refKey(ref)
    val afterMappings = ref.mappings.foldLeft(base) { (df, m) =>
      val table = registry.mapping(m.mappingName)
      val stepMapped =
        if (isNoopMappingMemo(m.mappingName, table)) df
        else MappingKernel.mapStackedDimension(df, m.dimension, table)
      val stepSalted = m.saltPartitions.fold(stepMapped)(n =>
        MappingKernel.repartitionAfterDisaggregation(stepMapped, n, Seq(m.dimension)))
      // the step key hashes the full dataset-ref context + registry state,
      // so a stored step is only ever reused by the SAME ref over UNCHANGED
      // data (the reference hashes the mapping plan the same way,
      // dataset_mapping_plan.py) — a different query's prefilters or a
      // registry mutation produce a different key and force recompute
      if (m.persist)
        FileCache.cached(spark, storeBase, s"mapstep_${key}_${m.dimension}_${m.mappingName}")(stepSalted)
      else stepSalted
    }
    // Exact filter semantics for MAPPED dimensions are enforced HERE, after
    // the joins: the prefilter above is only the scan-pruning optimization,
    // and a one-to-many mapping can reintroduce project-space values the
    // filter excludes (dataset record X maps to both EUROPE and AFRICA —
    // the prefilter keeps X for EUROPE's sake, so AFRICA rows appear after
    // the join and must be filtered out again). Raw filters (no single
    // target column) are project-space text and run here too when any
    // mapping exists — applying them to pre-mapping values would silently
    // match nothing. Runs before the fraction collapse, so excluded rows
    // never enter the aggregation.
    val mappedDims = ref.mappings.map(_.dimension).toSet
    val exactFiltered = resolvedFilters
      .filter(f => DimensionFilter.targetColumn(f) match {
        case Some(dim) => mappedDims.contains(dim)
        case None => ref.mappings.nonEmpty
      })
      .foldLeft(afterMappings)((d, f) => f(d))
    val mappedBase =
      MappingKernel.applyScalingFactor(MappingKernel.applyFraction(exactFiltered))
    ref.growth match {
      case None => mappedBase
      case Some(g) =>
        val growthRates = MappingKernel.mapAndApply(
          registry.dataset(g.datasetId),
          g.mappings.map(m => m.dimension -> registry.mapping(m.mappingName)))
        g.kind match {
          case "exponential" =>
            graft.functions.Growth.applyExponentialGrowthRate(
              mappedBase, growthRates, g.joinColumns, g.modelYearColumn, g.baseYear)
          case "multiplier" =>
            graft.functions.Growth.applyAnnualMultiplier(mappedBase, growthRates, g.joinColumns)
          case other => throw new IllegalArgumentException(s"unknown growth kind: $other")
        }
    }
  }

  /** The semantic prefilter: per-dataset filters expressed in PROJECT
    * dimension space, pushed below the mapping joins by translating record
    * ids back through the dataset's mapping chain — so a query for one
    * region prunes the fact scan instead of mapping the whole table first
    * (ref: dataset_schema_handler_base.py:592-646). Filters on unmapped
    * dimensions (dataset ids == project ids) and raw predicates apply
    * directly — those Catalyst pushes into the scan itself. */
  private def prefilterDataset(
      df: DataFrame,
      resolvedFilters: Seq[DimensionFilter],
      ref: DatasetRef): DataFrame =
    resolvedFilters.foldLeft(df) { (d, f) =>
      DimensionFilter.targetColumn(f) match {
        case Some(dim) =>
          val chain = ref.mappings.filter(_.dimension == dim).map(m => registry.mapping(m.mappingName))
          if (chain.isEmpty) f(d)
          else {
            // evaluate the filter over the project-space id universe (the
            // final mapping's to_id side) to get the surviving ids, then
            // translate them back through the chain
            val universe = chain.last
              .filter(col(ToIdColumn).isNotNull)
              .select(col(ToIdColumn).as(dim))
              .distinct()
            val targetIds = f(universe).select(col(dim).as("id"))
            PreFilter.prefilterThroughChain(d, dim, chain, targetIds)
          }
        // raw filters are project-space text: only safe to apply before
        // mapping when there IS no mapping (dataset space == project space);
        // otherwise the post-mapping exact pass handles them
        case None => if (ref.mappings.isEmpty) f(d) else d
      }
    }

  /** Noop-mapping detection runs an (inexpensive but eager) isEmpty action;
    * memoized per mapping name so a query touching the same mapping N times
    * pays the driver round-trip once (the reference precomputes this at
    * registration — mapping tables are immutable once registered). */
  private val noopMemo = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  private def isNoopMappingMemo(name: String, table: DataFrame): Boolean =
    noopMemo.getOrElseUpdate(name, MappingKernel.isNoopMapping(table))

  /** Stages 4-5: map every dataset, evaluate the combination expression. */
  def combine(section: DatasetSection): DataFrame = {
    val frames = section.datasets.map(d => d.datasetId -> mapDataset(d)).toMap
    section.expression match {
      case Some(exprText) => DatasetExpr.evaluate(exprText, frames)
      case None => frames.values.reduce(_ unionByName _)
    }
  }

  /** Resolve registry-referencing filter forms (the JSON-expressible ones)
    * into their data-carrying equivalents. Data-free in the query document
    * and in cache keys; the registry content token covers record changes. */
  private def resolveFilter(f: DimensionFilter): DimensionFilter = f match {
    case DimensionFilter.SubsetDimensionFilter(c, dims) =>
      DimensionFilter.SubsetFilter(c, dims.map(registry.dimensionRecords))
    case DimensionFilter.SupplementalMappingFilter(c, name) =>
      DimensionFilter.SupplementalFilter(c, registry.mapping(name))
    case other => other
  }

  /** Stage 6: result shaping. */
  def postProcess(df0: DataFrame, r: ResultSection): DataFrame = {
    var df = DimensionFilter.applyAll(df0, r.filters.map(resolveFilter))
    for (sc <- r.supplementalColumns) {
      val m = broadcast(
        registry.mapping(sc.mappingName)
          .filter(col(ToIdColumn).isNotNull)
          .select(col(FromIdColumn).as("__graft_supp_from"), col(ToIdColumn).as(sc.columnName)))
      df = df.join(m, df(sc.dimension) === col("__graft_supp_from"), "left").drop("__graft_supp_from")
    }
    for (agg <- r.aggregations)
      df = AggOps.aggregate(df, agg.groupBy, agg.fn)
    // unit conversion must run BEFORE ids→names: metric records are keyed
    // by id, not display name (ref runs convert in the agg handler first,
    // table_format_handler_base.py:31-113)
    for (unit <- r.toUnit)
      df = Units.convertUnits(df, "metric", registry.dimensionRecords("metric"), unit)
    for (dim <- r.idsToNames)
      df = MappingKernel.idsToNames(df, dim, registry.dimensionRecords(dim))
    for (tz <- r.timeZone if df.columns.contains("timestamp"))
      df =
        if (tz == "geography")
          TimeZones.toGeographyLocal(df, "timestamp", "geography", registry.dimensionRecords("geography"))
        else TimeZones.toSingleZone(df, "timestamp", tz)
    for (p <- r.pivotDimension)
      df = Reshape.pivot(df, p)
    if (r.sortBy.nonEmpty) df = df.sort(r.sortBy.map(col): _*)
    // presentation renames run last so every earlier section (filters,
    // aggregations, sort) addresses the internal dimension-type names
    for ((from, to) <- r.outputRenames)
      df = df.withColumnRenamed(from, to)
    df
  }

  /** Reports computed from the shaped result (ref: query_submitter.py:328-332
    * runs each ReportInputModel against the final table). */
  def reportFrames(df: DataFrame, r: ResultSection): Seq[(String, DataFrame)] =
    r.reports.zipWithIndex.map {
      case (rep: PeakLoadReport, i) =>
        val name = if (r.reports.count(_.name == rep.name) > 1) s"${rep.name}_$i" else rep.name
        name -> graft.query.Reports.peakLoad(df, rep.groupBy, ValueColumn, rep.keepTies, rep.tieBreak)
    }

  /** ColumnType checks shared by both query kinds (ref ColumnType,
    * models.py:104-109,513-519,568-576): the value must be known, and a
    * `dimension_types` result keeps the internal type names — presentation
    * renames would contradict the declared column type. */
  private def validateResult(queryName: String, r: ResultSection): Unit = {
    require(
      r.columnType == Models.ColumnTypeDimensionTypes || r.columnType == Models.ColumnTypeDimensionNames,
      s"query '$queryName': unknown column_type '${r.columnType}' " +
        s"(expected '${Models.ColumnTypeDimensionTypes}' or '${Models.ColumnTypeDimensionNames}')")
    if (r.columnType == Models.ColumnTypeDimensionTypes)
      require(r.outputRenames.isEmpty,
        s"query '$queryName': column_type '${Models.ColumnTypeDimensionTypes}' keeps internal " +
          "dimension-type column names, but output_renames was given — set " +
          s"column_type to '${Models.ColumnTypeDimensionNames}' or drop the renames")
    // subset dimensions FILTER, they never aggregate: grouping by one would
    // silently drop every out-of-subset row from the totals (the reference
    // rejects this at submission, query_submitter.py:173-193)
    val subsetDims = registry.listDimensions()
      .filter(d => registry.dimensionCategory(d) == "subset").toSet
    if (subsetDims.nonEmpty) {
      val aggCols = r.aggregations.flatMap(_.groupBy) ++
        r.reports.flatMap { case Models.PeakLoadReport(g, _, _) => g }
      for (c <- aggCols if subsetDims.contains(c))
        throw new IllegalArgumentException(
          s"query '$queryName': subset dimensions cannot be used in aggregations: dimension_name='$c'. " +
            "Only base and supplemental dimensions are allowed — filter on the subset " +
            "(subset_dimension filter) and aggregate on a base or supplemental dimension instead.")
    }
  }

  /** Fail-fast semantic validation, run before any Spark job: unknown
    * dataset/mapping names, datasets whose post-mapping schemas cannot
    * combine, aggregation/report columns that won't exist. The reference
    * validates at submission (query_submitter.py:173-249,
    * dataset_schema_handler_base.py:669-745); without this, errors surface
    * mid-combine as opaque analysis exceptions — or hours into a 100 TB
    * run. Schema derivation is plan analysis only, no action. */
  def validate(q: ProjectQuery): Unit = {
    require(q.datasets.datasets.nonEmpty, s"query '${q.name}': no datasets")
    validateResult(q.name, q.result)
    val known = registry.listDatasets().toSet
    val knownMappings = registry.listMappings().toSet
    for (d <- q.datasets.datasets) {
      require(known.contains(d.datasetId), s"query '${q.name}': unknown dataset '${d.datasetId}'")
      for (m <- d.mappings)
        require(knownMappings.contains(m.mappingName),
          s"query '${q.name}': unknown mapping '${m.mappingName}' on dataset '${d.datasetId}'")
      for (g <- d.growth) {
        require(known.contains(g.datasetId),
          s"query '${q.name}': unknown growth dataset '${g.datasetId}'")
        require(Set("exponential", "multiplier").contains(g.kind),
          s"query '${q.name}': unknown growth kind '${g.kind}'")
      }
    }
    // post-mapping schemas must agree for the implicit union / expression
    val schemas = q.datasets.datasets.map(d => d.datasetId -> mapDatasetSchema(d))
    val base = schemas.head
    for ((id, cols) <- schemas.tail)
      require(cols == base._2,
        s"query '${q.name}': dataset '$id' maps to columns ${cols.toSeq.sorted.mkString(",")} " +
          s"but '${base._1}' maps to ${base._2.toSeq.sorted.mkString(",")} — combine would fail. " +
          "Align them with columnRenames on the DatasetRef.")
    val combined = base._2
    for (agg <- q.result.aggregations; c <- agg.groupBy)
      require(combined.contains(c) || q.result.supplementalColumns.exists(_.columnName == c),
        s"query '${q.name}': aggregation groups by '$c' which no dataset provides")
    for (rep <- q.result.reports) rep match {
      case PeakLoadReport(groupBy, _, _) =>
        for (c <- groupBy)
          require(combined.contains(c) || q.result.supplementalColumns.exists(_.columnName == c),
            s"query '${q.name}': report groups by '$c' which no dataset provides")
    }
  }

  /** The columns a dataset will have after rename + mapping + fraction
    * collapse — derived from the schema alone, no job runs. */
  private def mapDatasetSchema(ref: DatasetRef): Set[String] = {
    val raw = registry.dataset(ref.datasetId).columns.toSet
    val renamed = ref.columnRenames.foldLeft(raw)((cs, r) => cs - r._1 + r._2)
    renamed - FractionColumn - ScalingFactorColumn
  }

  /** Full project query; content-hash cached when `cacheDir` is set; the
    * session tz is pinned for the duration when the query requests one.
    * With a `cacheDir`, `query.json` + `metadata.json` sidecars and any
    * report tables are written beside the result
    * (ref: query_submitter.py:614-653). */
  def submit(q: ProjectQuery): DataFrame = {
    validate(q)
    def run() = cachedResult(Models.canonical(q), q.name, Json.render(q), q.result)(
      postProcess(combine(q.datasets), q.result))
    q.sessionTimeZone match {
      case Some(tz) =>
        graft.core.GraftSession.withConf(spark, SessionTimeZoneKey -> tz) {
          val df = run()
          // plans are lazy — materialize inside the pinned-tz scope (the
          // cached path already wrote parquet; otherwise cut the plan here)
          if (cacheDir.isDefined) df else df.localCheckpoint()
        }
      case None => run()
    }
  }

  /** Project query + its report tables (also written beside the cached
    * result when `cacheDir` is set). */
  def submitWithReports(q: ProjectQuery): (DataFrame, Seq[(String, DataFrame)]) = {
    val df = submit(q)
    (df, reportFrames(df, q.result))
  }

  /** DatasetQuery validation: the project checks over its one dataset. */
  def validate(q: DatasetQuery): Unit =
    validate(ProjectQuery(q.name, DatasetSection(Seq(q.dataset)), q.result))

  /** Dataset query (§3.2): one dataset, mapping + shaping, no combine. */
  def submit(q: DatasetQuery): DataFrame = {
    validate(q)
    cachedResult(Models.canonical(q), q.name, Json.render(q), q.result)(
      postProcess(mapDataset(q.dataset), q.result))
  }

  /** §3.3: run stages 4-5 of a project query and save the combined table as
    * a composite dataset under the registry; later queries re-read it and
    * apply only post-processing (ref: query_submitter.py:730-834). A
    * `metadata.json` sidecar records the table's column roles so consumers
    * can reconstruct dimension info (ref metadata.json,
    * query_submitter.py:614-653). */
  def createCompositeDataset(id: String, datasets: DatasetSection): Unit = {
    val df = combine(datasets)
    HadoopFs.publish(spark, s"${registry.root}/composite_datasets/$id") { dir =>
      Writers.parquet(df, s"$dir/table.parquet")
      HadoopFs.writeJson(spark, s"$dir/metadata.json")(metadata(id, df))
    }
  }

  /** The metadata sidecar of a composite dataset, parsed. */
  def compositeMetadata(id: String): Map[String, Any] = {
    val n = Json.mapper.readTree(HadoopFs.readText(spark, s"${registry.root}/composite_datasets/$id/metadata.json"))
    Map(
      "name" -> Json.str(n, "name"),
      "value_column" -> Json.str(n, "value_column"),
      "dimension_columns" -> Json.arr(n, "dimension_columns").map(_.asText()),
      "columns" -> Json.arr(n, "columns").map(_.asText()))
  }

  /** Promote a query result to a registered derived dataset other queries
    * can consume (ref: dsgrid/query/derived_dataset.py:35-180). The query
    * must declare `column_type = dimension_types`: a derived dataset is
    * re-queryable only if its columns carry the internal dimension-type
    * names (ref models.py:513-519 states the same requirement). */
  def registerDerivedDataset(id: String, q: ProjectQuery): Unit = {
    require(q.result.columnType == Models.ColumnTypeDimensionTypes,
      s"registerDerivedDataset('$id'): query '${q.name}' has column_type " +
        s"'${q.result.columnType}' — a derived dataset must be registered from a " +
        s"'${Models.ColumnTypeDimensionTypes}' result so its columns stay re-queryable by type name")
    graft.registry.Registry.registerDataset(registry, id, submit(q))
  }

  /** Registered composite-dataset ids (directories with a table). */
  def listCompositeDatasets(): Seq[String] =
    HadoopFs.subdirs(spark, s"${registry.root}/composite_datasets")

  def submitComposite(id: String, result: ResultSection): DataFrame = {
    require(HadoopFs.exists(spark, s"${registry.root}/composite_datasets/$id/table.parquet"),
      s"submitComposite('$id'): no such composite dataset " +
        s"(known: ${listCompositeDatasets().mkString(", ")})")
    validateResult(s"composite:$id", result)
    postProcess(
      Readers.parquet(spark, s"${registry.root}/composite_datasets/$id/table.parquet"),
      result)
  }

  // ------------------------------------------------------------------
  // cache plumbing
  // ------------------------------------------------------------------

  /** Without a `cacheDir`, `build`. With one, the result cached under
    * `cached_tables/<hash(registry token + canon)>`, published together
    * with the sidecars beside it:
    * query.json (a rendered query document, re-runnable for every
    * JSON-expressible query — DataFrame-bearing filters render as opaque
    * tokens that the parser rejects by design; use the registry-resolved
    * forms for re-runnable documents) + metadata.json (which records the
    * registry content token the result was built from) + report tables.
    * `canon` and `renderedQuery` are by-name: both may collect filter
    * record sets, so they only run when a cache uses them. */
  private def cachedResult(canon: => String, name: String, renderedQuery: => String, r: ResultSection)(
      build: => DataFrame): DataFrame = cacheDir match {
    case None => build
    case Some(dir) =>
      val key = Models.contentHash(registryToken + canon)
      FileCache.cached(spark, s"$dir/cached_tables", key, { (df, entry) =>
        HadoopFs.writeText(spark, s"$entry/query.json", renderedQuery)
        HadoopFs.writeJson(spark, s"$entry/metadata.json")(metadata(name, df))
        for ((rname, rdf) <- reportFrames(df, r))
          Writers.parquet(rdf, s"$entry/reports/$rname.parquet")
      })(build)
  }

  private def metadata(name: String, df: DataFrame)(n: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    n.put("name", name)
    // provenance: which registry state produced this result (the cache key
    // is a one-way hash, so without this the entry is unattributable after
    // a registry mutation)
    n.put("registry_token", registryToken)
    n.put("value_column", ValueColumn)
    val dims = n.putArray("dimension_columns")
    // synthesized columns are not dimensions: the tz-conversion marker
    // (time_zone) is appended by toSingleZone/toGeographyLocal, not mapped
    // from a dimension — listing it would make a re-loaded composite treat
    // it as groupable dimension data
    df.columns
      .filter(c => c != ValueColumn && c != "timestamp" && c != TimeZoneColumn)
      .foreach(dims.add)
    val cols = n.putArray("columns")
    df.columns.foreach(cols.add)
  }
}
