package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Par
import graft.query.Json
import graft.sources.{HadoopFs, Readers, Writers}

/** Filesystem-convention registry — the minimal versioned store the engine
  * needs to resolve dimensions, mappings and datasets (the reference keeps
  * config in SQLite + data in parquet trees, dsgrid/registry; our layout
  * is parquet-only, resolvable on any Hadoop-compatible filesystem so the
  * same tree works on HDFS/S3 at cluster scale):
  *
  * {{{
  * <root>/dimensions/<name>/records.parquet          (id, name[, time_zone, unit])
  * <root>/mappings/<name>/table.parquet              (from_id, to_id, from_fraction)
  * <root>/datasets/<id>/load_data.parquet            fact table
  * <root>/datasets/<id>/load_data_lookup.parquet     optional two-table lookup
  * }}}
  *
  * Versioning is by convention: a version is a subtree (e.g.
  * `<root>/v1.0.0/...`); the registry object is cheap and stateless, so
  * callers point one at the version root they want.
  */
final case class Registry(spark: SparkSession, root: String) {

  private def path(parts: String*): String = (root +: parts).mkString("/")

  def dimensionRecords(name: String): DataFrame =
    Readers.parquet(spark, path("dimensions", name, "records.parquet"))

  /** The dimension's category (base/subset/supplemental); absent metadata
    * means base (see Registry.registerDimension). */
  def dimensionCategory(name: String): String =
    HadoopFs.readJson(spark, path("dimensions", name, "meta.json"))
      .flatMap(Json.optStr(_, "category")).getOrElse("base")

  def mapping(name: String): DataFrame =
    Readers.parquet(spark, path("mappings", name, "table.parquet"))

  /** Declared (from_dimension, to_dimension) endpoints of a mapping — the
    * link the compatibility checkers walk (the reference declares these on
    * every mapping config, dimension_mapping_base.py). Absent sidecar (or
    * side) = undeclared: the mapping is then exempt from reference checks. */
  def mappingEndpoints(name: String): (Option[String], Option[String]) = {
    val n = HadoopFs.readJson(spark, path("mappings", name, "meta.json"))
    (n.flatMap(Json.optStr(_, "from_dimension")), n.flatMap(Json.optStr(_, "to_dimension")))
  }

  def loadData(datasetId: String): DataFrame =
    Readers.parquet(spark, path("datasets", datasetId, "load_data.parquet"))

  def lookup(datasetId: String): Option[DataFrame] = {
    val p = path("datasets", datasetId, "load_data_lookup.parquet")
    if (HadoopFs.exists(spark, p)) Some(Readers.parquet(spark, p)) else None
  }

  /** The dataset's fact table, normalized to the engine's stacked internal
    * format: the two-table lookup join is applied when a lookup exists
    * (ref: dataset_schema_handler_two_table.py:110), and PIVOTED-format
    * datasets are unpivoted on load (internal processing is always stacked —
    * ref: dsgrid/dataset/models.py ValueFormat; query_submitter.py:992-994). */
  def dataset(datasetId: String): DataFrame = {
    val joined = lookup(datasetId) match {
      case Some(lk) => graft.operators.MappingKernel.joinLookup(loadData(datasetId), lk)
      case None => loadData(datasetId)
    }
    datasetFormat(datasetId) match {
      case Some(f) if f.valueFormat == "pivoted" =>
        graft.operators.Reshape.unpivot(
          joined,
          joined.columns.filterNot(f.pivotedColumns.contains).toSeq,
          f.pivotedColumns,
          f.variableColumn)
      case _ => joined
    }
  }

  /** Value-format metadata (a small JSON sidecar; absent → stacked). */
  def datasetFormat(datasetId: String): Option[DatasetFormat] =
    HadoopFs.readJson(spark, path("datasets", datasetId, "format.json")).map { n =>
      DatasetFormat(
        valueFormat = Json.str(n, "value_format"),
        pivotedColumns = Json.arr(n, "pivoted_columns").map(_.asText()),
        variableColumn = Json.optStr(n, "variable_column").getOrElse("metric"))
    }

  /** Content token: hash over the recursive (path, length, mtime) listing of
    * the registry tree, folded into query cache keys so any registry
    * mutation invalidates cached results (the reference hashes project
    * version + dataset configs into its key, query_submitter.py:133-171).
    * Metadata listing only — no data is read. The walk uses
    * `listStatus`, not `listFiles`, to avoid a `stat` fork per file (see
    * [[Registry.treeToken]]); it lists the same entries, so the token
    * string is unchanged and existing cache keys and recorded
    * `registry_token`s stay valid. */
  def contentToken: String = Registry.treeToken(spark, root).getOrElse("empty")

  def listDatasets(): Seq[String] = HadoopFs.subdirs(spark, path("datasets"))
  def listDimensions(): Seq[String] = HadoopFs.subdirs(spark, path("dimensions"))
  def listMappings(): Seq[String] = HadoopFs.subdirs(spark, path("mappings"))
}

/** PIVOTED-format declaration: one column per record of `variableColumn`'s
  * dimension, unpivoted to stacked form on load. */
final case class DatasetFormat(
    valueFormat: String, // "stacked" | "pivoted"
    pivotedColumns: Seq[String] = Nil,
    variableColumn: String = "metric")

/** Writer side — registration. The reference runs its validation suite on
  * submission (registry/dataset_registry_manager.py;
  * dataset_schema_handler_base.py:171-222,323-452); `registerDataset` runs
  * the same checks against whatever context the caller supplies
  * (dimension records, a time spine), with an opt-out for raw writes. */
object Registry {

  /** Content token of the file or tree at `path`: the hash of its sorted
    * `path|length|mtime` file entries; None when nothing is there. Any
    * rewrite of a file under `path` changes it. Metadata only: one
    * `listStatus` per directory. `FileSystem.listFiles` lists the same
    * files but builds a `LocatedFileStatus` for each, which loads owner
    * and permission — on the local filesystem without native Hadoop, one
    * forked `stat` process per file. */
  def treeToken(spark: SparkSession, path: String): Option[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = HadoopFs.fs(spark, hp)
    if (!fs.exists(hp)) None
    else {
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(p: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
        }
      walk(hp)
      Some(graft.query.Models.contentHash(entries.sorted.mkString("\n")))
    }
  }

  /** Registration inputs: parquet by default, header+inferSchema CSV for
    * `.csv` paths — the ONE reader every registration surface (Scala API,
    * CLI verbs, bulk manifests) shares, so they can never drift. */
  def readRegistrationTable(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else spark.read.parquet(path)

  /** The "version = subtree" convention, made navigable: versions live as
    * `<root>/v<major>.<minor>.<patch>` directories (the reference stores
    * semver-versioned configs in its registry database and bumps on update;
    * here a version is an immutable subtree). */
  private val VersionDir = """v(\d+)\.(\d+)\.(\d+)""".r

  /** Version directories under a root, semver-ordered ascending. */
  def versions(spark: SparkSession, root: String): Seq[String] =
    HadoopFs.subdirs(spark, root)
      .collect { case n @ VersionDir(a, b, c) => (a.toInt, b.toInt, c.toInt, n) }
      .sortBy(t => (t._1, t._2, t._3))
      .map(_._4)

  /** A registry pinned to one version subtree. */
  def atVersion(spark: SparkSession, root: String, version: String): Registry =
    Registry(spark, s"$root/$version")

  /** The highest-versioned registry under a root. */
  def latest(spark: SparkSession, root: String): Registry = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no v<semver> subtrees under $root")
    atVersion(spark, root, vs.last)
  }

  /** Start a new version as a copy of an existing one — the "bump" of the
    * reference's semver update semantics under the immutable-subtree
    * convention: mutate the copy, never the published version. Uses the
    * Hadoop FS copy so the tree works on HDFS/S3/local alike. */
  def newVersion(spark: SparkSession, root: String, fromVersion: String, toVersion: String): Registry = {
    require(VersionDir.matches(toVersion), s"not a v<major>.<minor>.<patch> version: $toVersion")
    require(HadoopFs.exists(spark, s"$root/$fromVersion"), s"no such version: $root/$fromVersion")
    require(!HadoopFs.exists(spark, s"$root/$toVersion"), s"version already exists: $root/$toVersion")
    HadoopFs.copy(spark, s"$root/$fromVersion", s"$root/$toVersion")
    atVersion(spark, root, toVersion)
  }

  /** Delete a whole version subtree (ref: dsgrid_admin delete/prune — the
    * admin affordance that keeps a registry from growing forever). Refuses
    * non-semver names so a typo can never delete the registry root or a
    * non-version directory. */
  def deleteVersion(spark: SparkSession, root: String, version: String): Unit = {
    require(VersionDir.matches(version), s"not a v<major>.<minor>.<patch> version: $version")
    require(versions(spark, root).contains(version), s"no such version: $root/$version")
    HadoopFs.delete(spark, s"$root/$version")
  }

  /** Filtered-registry export (ref: registry/filter_registry_manager.py —
    * the pruned registries the reference's own test suite runs against, and
    * the natural tool for shipping dataset subsets): copy only the selected
    * datasets / dimensions / mappings into a fresh root. Selections must
    * exist; the exported tree is integrity-checked so a retained mapping
    * cannot silently reference a dropped dimension. Hadoop FS copies, so
    * src/dest may live on any mix of local/HDFS/object-store paths. */
  def filterTo(
      reg: Registry,
      destRoot: String,
      datasets: Seq[String] = Nil,
      dimensions: Seq[String] = Nil,
      mappings: Seq[String] = Nil): Registry = {
    // validate EVERY selection before the first copy — a refused export
    // must not leave a partially-copied tree at destRoot
    def checkKnown(kind: String, names: Seq[String], existing: Seq[String]): Unit = {
      val unknown = names.filterNot(existing.contains)
      require(unknown.isEmpty, s"filterTo: no such $kind: ${unknown.mkString(", ")}")
    }
    checkKnown("datasets", datasets, reg.listDatasets())
    checkKnown("dimensions", dimensions, reg.listDimensions())
    checkKnown("mappings", mappings, reg.listMappings())
    // hundreds of selections are the realistic shape (the reference's
    // production registries) — copy subtrees concurrently; each copy
    // targets a distinct destination path
    def copyAll(kind: String, names: Seq[String]): Unit =
      Par.map(names)(n => HadoopFs.copy(reg.spark, s"${reg.root}/$kind/$n", s"$destRoot/$kind/$n"))
    copyAll("datasets", datasets)
    copyAll("dimensions", dimensions)
    copyAll("mappings", mappings)
    val out = Registry(reg.spark, destRoot)
    val broken = checkIntegrity(out)
    if (broken.nonEmpty) {
      // an integrity-refused export removes its own debris
      HadoopFs.delete(reg.spark, destRoot)
      throw new IllegalArgumentException(
        s"filterTo: exported registry is inconsistent — ${broken.mkString("; ")}")
    }
    out
  }

  /** Remove a registered dimension (ref: cli/registry.py:344 remove
    * verbs; dsgrid_admin delete commands) — dependency-checked: a mapping
    * declaring the dimension as an endpoint blocks the removal and is
    * named, so the registry can never transition into a state
    * `checkIntegrity` would reject. */
  def removeDimension(reg: Registry, name: String): Unit = {
    require(reg.listDimensions().contains(name), s"removeDimension: no such dimension '$name'")
    val dependents = reg.listMappings().filter { m =>
      val (from, to) = reg.mappingEndpoints(m)
      from.contains(name) || to.contains(name)
    }
    require(dependents.isEmpty,
      s"removeDimension($name): declared endpoint of mapping(s) ${dependents.mkString(", ")} — remove those first")
    HadoopFs.delete(reg.spark, s"${reg.root}/dimensions/$name")
  }

  /** Remove a registered mapping. Nothing in the registry depends on a
    * mapping, so no dependency check applies. */
  def removeMapping(reg: Registry, name: String): Unit = {
    require(reg.listMappings().contains(name), s"removeMapping: no such mapping '$name'")
    HadoopFs.delete(reg.spark, s"${reg.root}/mappings/$name")
  }

  /** Remove a registered dataset (fact table + lookup + format sidecar). */
  def removeDataset(reg: Registry, datasetId: String): Unit = {
    require(reg.listDatasets().contains(datasetId), s"removeDataset: no such dataset '$datasetId'")
    HadoopFs.delete(reg.spark, s"${reg.root}/datasets/$datasetId")
  }

  /** Export a dimension's records (ref: cli/registry.py:223
    * dump_dimension): parquet, or single-file CSV for `.csv` paths. */
  def dumpDimension(reg: Registry, name: String, outPath: String): Unit = {
    require(reg.listDimensions().contains(name), s"dumpDimension: no such dimension '$name'")
    val records = reg.dimensionRecords(name)
    if (outPath.endsWith(".csv")) Writers.csv(records, outPath, singleFile = true)
    else Writers.parquet(records, outPath)
  }

  val DimensionCategories = Set("base", "subset", "supplemental")

  /** Register dimension records with a category (ref DimensionCategory,
    * dsgrid/dimension/base_models.py — base/subset/supplemental). The
    * category gates what queries may do with the dimension: subset
    * dimensions filter, they never aggregate (query_submitter.py:173-249).
    * Non-base categories are recorded in a `meta.json` sidecar; absent
    * sidecar = base, so pre-existing registry trees read unchanged. The
    * records and sidecar publish as one directory, replacing any earlier
    * registration whole. */
  def registerDimension(reg: Registry, name: String, records: DataFrame, category: String = "base"): Unit = {
    require(DimensionCategories.contains(category),
      s"registerDimension($name): unknown category '$category'; one of ${DimensionCategories.toSeq.sorted.mkString(", ")}")
    // update-compatibility check (ref: dimension_update_checker.py): a
    // re-registration must keep every id referenced by a declared mapping
    // endpoint resolvable — checked BEFORE the overwrite so a bad update
    // never lands. Runs only when the dimension already exists (fresh
    // registration has no dependents yet).
    if (HadoopFs.exists(reg.spark, s"${reg.root}/dimensions/$name/records.parquet")) {
      val broken = dimensionUpdateViolations(reg, name, records)
      require(broken.isEmpty,
        s"registerDimension($name): incompatible update — ${broken.mkString("; ")}")
    }
    HadoopFs.publish(reg.spark, s"${reg.root}/dimensions/$name") { dir =>
      Writers.parquet(records, s"$dir/records.parquet")
      if (category != "base")
        HadoopFs.writeJson(reg.spark, s"$dir/meta.json")(_.put("category", category))
    }
  }

  /** Mapping references the new `records` of dimension `name` would break:
    * one message per offending mapping, naming it and a sample of the ids
    * that stop resolving. Anti-join per dependent mapping; only a 5-id
    * sample is ever collected. */
  private def dimensionUpdateViolations(reg: Registry, name: String, records: DataFrame): Seq[String] =
    reg.listMappings().flatMap { m =>
      val (from, to) = reg.mappingEndpoints(m)
      val sides = Seq(
        from.filter(_ == name).map(_ => graft.core.Constants.FromIdColumn),
        to.filter(_ == name).map(_ => graft.core.Constants.ToIdColumn)).flatten
      sides.flatMap { side =>
        val missing = unresolvedIds(reg.mapping(m), side, records)
        if (missing.isEmpty) None
        else Some(s"mapping '$m' $side values would no longer resolve: ${missing.mkString(", ")}")
      }
    }

  /** Up to five distinct values of mapping column `side` that are not an
    * `id` of dimension `records` — one anti-join, one 5-row collect. */
  private def unresolvedIds(mapping: DataFrame, side: String, records: DataFrame): Array[Any] = {
    import org.apache.spark.sql.functions.col
    mapping.select(col(side).as("id")).distinct()
      .join(records.select(col("id")).distinct(), Seq("id"), "left_anti")
      .limit(5).collect().map(_.get(0))
  }

  /** Referential-integrity sweep over every declared mapping endpoint:
    * returns one message per broken reference (empty = consistent). The
    * standing version of the per-update check, for CLI `registry check`
    * and post-export validation.
    *
    * Scale shape: production registries hold hundreds of mappings (the
    * reference's do), and a per-mapping anti-join + collect loop is
    * O(#mappings) driver round trips. Instead, all endpoints referencing
    * the SAME dimension batch into one plan — union of their (tagged)
    * endpoint columns, one broadcast anti-join against the records, one
    * collect — so the job count is #referenced-dimensions, not
    * #mappings. Ids compare as strings on both sides (the registry's id
    * convention; also makes heterogeneous mapping tables union-safe). */
  def checkIntegrity(reg: Registry): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_set, lit, slice, sort_array}
    // (mapping, side, dimension) for every declared endpoint, in
    // listMappings order — message order follows this sequence
    val refs = reg.listMappings().flatMap { m =>
      val (from, to) = reg.mappingEndpoints(m)
      Seq(
        from.map(d => (m, graft.core.Constants.FromIdColumn, d)),
        to.map(d => (m, graft.core.Constants.ToIdColumn, d))).flatten
    }
    val (dangling, resolved) = refs.partition { case (_, _, dim) =>
      !HadoopFs.exists(reg.spark, s"${reg.root}/dimensions/$dim/records.parquet")
    }
    val broken = scala.collection.mutable.Map.empty[(String, String), Seq[Any]]
    resolved.groupBy(_._3).foreach { case (dim, group) =>
      val ids = reg.dimensionRecords(dim)
        .select(col("id").cast("string").as("id")).distinct()
      // reg.mapping() is a driver-side parquet schema read per table —
      // build the union's legs concurrently (order-preserving)
      val tagged = Par.map(group) { case (m, side, _) =>
        reg.mapping(m).select(
          col(side).cast("string").as("id"),
          lit(m).as("mapping"), lit(side).as("side"))
      }.reduce(_.unionByName(_))
      tagged.join(broadcast(ids), Seq("id"), "left_anti")
        .groupBy(col("mapping"), col("side"))
        .agg(slice(sort_array(collect_set(col("id"))), 1, 5).as("missing"))
        .collect()
        .foreach(r => broken((r.getString(0), r.getString(1))) = r.getSeq[Any](2))
    }
    refs.flatMap { case (m, side, dim) =>
      if (dangling.contains((m, side, dim)))
        Some(s"mapping '$m' declares ${side.stripSuffix("_id")}_dimension '$dim' which is not registered")
      else broken.get((m, side)).map(vals =>
        s"mapping '$m' $side values missing from dimension '$dim': ${vals.mkString(", ")}")
    }
  }

  /** Register a mapping table, validated against its declared type's
    * archetype (duplicate-id rules + fraction-sum checks, MappingTypes) —
    * the reference runs the same suite at mapping registration
    * (dimension_mapping_registry_manager.py:151-206). The default type is
    * the reference's (many_to_one_aggregation, dimension_mapping_base
    * .py:152); pass `validate = false` only for raw writes. */
  def registerMapping(
      reg: Registry,
      name: String,
      table: DataFrame,
      mappingType: String = MappingTypes.ManyToOneAggregation,
      fromFractionTolerance: Double = 1e-6,
      toFractionTolerance: Double = 1e-6,
      validate: Boolean = true,
      /** declared endpoint dimensions (ref dimension_mapping_base.py
        * from/to dimension references). Declared endpoints that exist in
        * the registry are resolution-checked at registration, and later
        * dimension updates are checked against them (update checkers). */
      fromDimension: Option[String] = None,
      toDimension: Option[String] = None): Unit = {
    if (validate) {
      MappingTypes.validate(name, mappingType, table, fromFractionTolerance, toFractionTolerance)
      for ((dim, side) <- Seq(
          fromDimension.map((_, graft.core.Constants.FromIdColumn)),
          toDimension.map((_, graft.core.Constants.ToIdColumn))).flatten
          if HadoopFs.exists(reg.spark, s"${reg.root}/dimensions/$dim/records.parquet")) {
        val missing = unresolvedIds(table, side, reg.dimensionRecords(dim))
        require(missing.isEmpty,
          s"registerMapping($name): $side values missing from dimension '$dim': ${missing.mkString(", ")}")
      }
    }
    // the directory is replaced whole, so a re-registration without
    // endpoints detaches the mapping
    HadoopFs.publish(reg.spark, s"${reg.root}/mappings/$name") { dir =>
      Writers.parquet(table, s"$dir/table.parquet")
      if (fromDimension.nonEmpty || toDimension.nonEmpty)
        HadoopFs.writeJson(reg.spark, s"$dir/meta.json") { n =>
          fromDimension.foreach(n.put("from_dimension", _))
          toDimension.foreach(n.put("to_dimension", _))
        }
    }
  }

  def registerDataset(
      reg: Registry,
      datasetId: String,
      loadData: DataFrame,
      lookup: Option[DataFrame] = None,
      format: Option[DatasetFormat] = None,
      /** dimension column → records; when provided, null / unknown-value
        * checks run on the columns present in the data */
      dimensionRecords: Map[String, DataFrame] = Map.empty,
      /** expected time spine; when provided the data's distinct timestamps
        * must equal it exactly */
      expectedTimestamps: Option[DataFrame] = None,
      /** when true, the data must cover the FULL cross product of the
        * supplied dimension record sets, minus `expectedMissing` — the
        * reference's completeness check at dataset submission
        * (dataset_schema_handler_base.py:171-222) */
      requireCompleteAssociations: Boolean = false,
      /** declared-missing dimension combinations (columns = a subset of
        * `dimensionRecords` keys), exempt from the completeness check */
      expectedMissing: Option[DataFrame] = None,
      validate: Boolean = true): Unit = {
    if (validate)
      validateDataset(datasetId, loadData, lookup, dimensionRecords, expectedTimestamps,
        requireCompleteAssociations, expectedMissing)
    publishDataset(reg, datasetId, loadData, lookup, format)
  }

  /** Publish dataset `datasetId` unvalidated, as one directory that
    * replaces any earlier registration whole: the fact table, the optional
    * lookup and format sidecar, and whatever `sidecars` writes into the
    * directory (the provenance an engine-derived dataset carries). */
  private[graft] def publishDataset(reg: Registry, datasetId: String, loadData: DataFrame,
      lookup: Option[DataFrame] = None, format: Option[DatasetFormat] = None,
      sidecars: String => Unit = _ => ()): Unit =
    HadoopFs.publish(reg.spark, s"${reg.root}/datasets/$datasetId") { dir =>
      Writers.parquet(loadData, s"$dir/load_data.parquet")
      lookup.foreach(Writers.parquet(_, s"$dir/load_data_lookup.parquet"))
      format.foreach(f => HadoopFs.writeJson(reg.spark, s"$dir/format.json") { n =>
        n.put("value_format", f.valueFormat)
        val cols = n.putArray("pivoted_columns")
        f.pivotedColumns.foreach(cols.add)
        n.put("variable_column", f.variableColumn)
      })
      sidecars(dir)
    }

  /** Registration validation: nulls, unknown dimension values, time-spine
    * match, and (opt-in) cross-product completeness. Each check is a
    * distributed plan; only a 5-row violation sample is ever collected.
    * Throws with the sample on the first failure. */
  private def validateDataset(
      datasetId: String,
      loadData: DataFrame,
      lookup: Option[DataFrame],
      dimensionRecords: Map[String, DataFrame],
      expectedTimestamps: Option[DataFrame],
      requireCompleteAssociations: Boolean = false,
      expectedMissing: Option[DataFrame] = None): Unit = {
    val frames = Seq(Some(loadData), lookup).flatten
    for (frame <- frames) {
      val dims = dimensionRecords.keys.toSeq.sorted.filter(frame.columns.contains)
      if (dims.nonEmpty) {
        val nulls = graft.operators.Validation.nullViolations(frame, dims).limit(5).collect()
        require(
          nulls.isEmpty,
          s"registerDataset($datasetId): NULL dimension values, e.g. ${nulls.mkString("; ")}")
        for (d <- dims) {
          val unknown = graft.operators.Validation
            .unknownDimensionValues(frame, d, dimensionRecords(d))
            .limit(5)
            .collect()
          require(
            unknown.isEmpty,
            s"registerDataset($datasetId): '$d' values missing from dimension records: " +
              unknown.map(_.get(0)).mkString(", "))
        }
      }
    }
    for (spine <- expectedTimestamps; frame <- frames.find(_.columns.contains("timestamp")))
      require(
        graft.time.TimeChecks.timestampsMatchSpine(frame, "timestamp", spine),
        s"registerDataset($datasetId): distinct timestamps do not match the expected spine")
    if (requireCompleteAssociations) {
      // the dimension combos live in the lookup for two-table layouts, in
      // the load data otherwise — check the frame that carries the most
      // supplied dimension columns (ref: completeness runs on the dimension
      // association table, dataset_schema_handler_base.py:171-222)
      val frame = frames.maxBy(f => dimensionRecords.keys.count(f.columns.contains))
      val dims = dimensionRecords.keys.toSeq.sorted.filter(frame.columns.contains)
      require(dims.nonEmpty,
        s"registerDataset($datasetId): requireCompleteAssociations needs dimensionRecords matching data columns")
      val missingDf = graft.operators.Validation
        .missingAssociations(frame, dims, dimensionRecords, expectedMissing)
      val missing = missingDf.limit(5).collect()
      if (missing.nonEmpty) {
        // failure path only: compress the (possibly enormous) missing set
        // into its minimal closed patterns — "all of geography X ×
        // scenario Y is missing" — the diagnosis the reference's Rust
        // miner logs before raising (dsgrid/utils/dataset.py:273-281,
        // top-10 by size); the raw sample rides alongside for the
        // no-structure case. The miner is best-effort enrichment: if it
        // fails (OOM on a wide dim set, pathological missing frame), the
        // plain sample message must still surface — never let the
        // diagnostic mask the real registration error.
        import org.apache.spark.sql.functions.col
        val patterns =
          try graft.operators.Validation.minimalClosedPatterns(missingDf)
            .orderBy(col("num_rows").desc, col("columns"), col("values"))
            .limit(10)
            .collect()
            .map(r => r.getSeq[String](0).zip(r.getSeq[String](1))
              .map { case (c, v) => s"$c=$v" }.mkString("(", ", ", ")") +
              s" covering ${r.getLong(2)} missing rows")
            .toSeq
          catch {
            case e: Exception => Seq(s"<pattern miner failed: ${e.getMessage}>")
          }
        throw new IllegalArgumentException(
          s"registerDataset($datasetId): incomplete dimension associations — combinations with no data, " +
            s"e.g. ${missing.map(r => dims.zip(r.toSeq).map { case (d, v) => s"$d=$v" }.mkString("(", ", ", ")")).mkString("; ")}" +
            s"; minimal closed patterns: ${patterns.mkString("; ")}")
      }
    }
  }
}
