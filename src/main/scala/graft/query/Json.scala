package graft.query

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

import graft.operators.DimensionFilter
import Models._

/** JSON codec for the query-model ADT — the reference's queries are JSON
  * documents validated into pydantic models (ref: dsgrid/query/models.py
  * discriminated unions; `filter_type` discriminator at models.py:35-45).
  * Jackson ships on Spark's classpath; the tree API keeps this dependency-
  * free and explicit about the accepted shape. */
object Json {

  // Accept the JSON5 conveniences the reference's query files actually use
  // (ref: .json5 query documents): // and /* */ comments, trailing commas.
  // Full JSON5 (unquoted keys, single quotes) is not needed by the corpus.
  // The engine's one mapper: curation plans, bulk manifests, API bodies and
  // every sidecar (via graft.sources.HadoopFs) parse and render through it.
  private[graft] val mapper = {
    val m = new ObjectMapper()
    m.enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_COMMENTS)
    m.enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_TRAILING_COMMA.mappedFeature())
    m
  }

  def parseProjectQuery(json: String): ProjectQuery = {
    val n = mapper.readTree(json)
    ProjectQuery(
      name = str(n, "name"),
      datasets = datasetSection(req(n, "datasets")),
      result = Option(n.get("result")).map(resultSection).getOrElse(ResultSection()),
      sessionTimeZone = optStr(n, "session_time_zone"))
  }

  def parseDatasetQuery(json: String): DatasetQuery = {
    val n = mapper.readTree(json)
    DatasetQuery(
      name = str(n, "name"),
      dataset = datasetRef(req(n, "dataset")),
      result = Option(n.get("result")).map(resultSection).getOrElse(ResultSection()))
  }

  private def datasetSection(n: JsonNode): DatasetSection =
    DatasetSection(
      datasets = arr(n, "datasets").map(datasetRef),
      expression = optStr(n, "expression"))

  private def datasetRef(n: JsonNode): DatasetRef =
    DatasetRef(
      datasetId = str(n, "dataset_id"),
      mappings = arr(n, "mappings").map(m =>
        DimensionMappingRef(
          str(m, "dimension"),
          str(m, "mapping_name"),
          persist = Option(m.get("persist")).exists(_.asBoolean(false)),
          saltPartitions = Option(m.get("salt_partitions")).filterNot(_.isNull).map(_.asInt()))),
      persist = Option(n.get("persist")).exists(_.asBoolean(false)),
      // pre-mapping dimension filters, expressed in project space (the
      // JSON surface accepts the data-free forms; DataFrame-bearing
      // subset/supplemental filters are programmatic-only)
      filters = arr(n, "filters").map(filter),
      columnRenames = renamePairs(n, "column_renames"),
      // execution-tuning conf applied while this dataset is mapped (ref
      // SparkConfByDataset: {"conf": {key: value}}); values stringified —
      // spark.conf takes strings
      sparkConf = Option(n.get("spark_conf")).filterNot(_.isNull).toSeq.flatMap { c =>
        c.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq
      },
      growth = Option(n.get("growth")).filterNot(_.isNull).map(g =>
        GrowthSpec(
          datasetId = str(g, "dataset_id"),
          mappings = arr(g, "mappings").map(m =>
            DimensionMappingRef(str(m, "dimension"), str(m, "mapping_name"))),
          joinColumns = arr(g, "join_columns").map(_.asText()),
          modelYearColumn = optStr(g, "model_year_column").getOrElse("model_year"),
          baseYear = Option(g.get("base_year")).map(_.asInt()).getOrElse(0),
          kind = optStr(g, "kind").getOrElse("exponential"))))

  private def resultSection(n: JsonNode): ResultSection =
    ResultSection(
      filters = arr(n, "filters").map(filter),
      supplementalColumns = arr(n, "supplemental_columns").map(s =>
        SupplementalColumn(str(s, "dimension"), str(s, "mapping_name"), str(s, "column_name"))),
      aggregations = arr(n, "aggregations").map(a =>
        Aggregation(
          groupBy = arr(a, "group_by").map(_.asText()),
          fn = optStr(a, "fn").getOrElse("sum"))),
      idsToNames = arr(n, "ids_to_names").map(_.asText()),
      sortBy = arr(n, "sort_by").map(_.asText()),
      pivotDimension = optStr(n, "pivot_dimension"),
      timeZone = optStr(n, "time_zone"), // a zone name, or the literal "geography"
      toUnit = optStr(n, "to_unit"),
      reports = arr(n, "reports").map(report),
      outputRenames = renamePairs(n, "output_renames"),
      // documents written before column_type existed never carry the field;
      // when absent, infer it from the renames so every pre-existing
      // rename-bearing query.json sidecar stays re-runnable (an explicit
      // contradictory pair still fails validation)
      columnType = optStr(n, "column_type").getOrElse(
        if (renamePairs(n, "output_renames").nonEmpty) Models.ColumnTypeDimensionNames
        else Models.ColumnTypeDimensionTypes))

  /** Renames are ORDERED fold steps: the canonical document form is an
    * array of {from,to} pairs (a JSON object would collapse duplicate
    * sources and make order an implementation detail); the object form is
    * still accepted for hand-written documents. */
  private def renamePairs(n: JsonNode, field: String): Seq[(String, String)] =
    Option(n.get(field)).filterNot(_.isNull).toSeq.flatMap { node =>
      if (node.isArray) node.elements().asScala.map(e => str(e, "from") -> str(e, "to")).toSeq
      else node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq
    }

  /** Discriminated on `report_type` (ref ReportType, models.py:186-196). */
  private def report(n: JsonNode): ReportSpec = str(n, "report_type") match {
    case "peak_load" =>
      PeakLoadReport(
        groupBy = arr(n, "group_by").map(_.asText()),
        keepTies = Option(n.get("keep_ties")).exists(_.asBoolean(false)),
        tieBreak = arr(n, "tie_break").map(_.asText()))
    case other => throw new IllegalArgumentException(s"unknown report_type: $other")
  }

  /** Discriminated on `filter_type`, mirroring the reference's union. */
  private[query] def filter(n: JsonNode): DimensionFilter = str(n, "filter_type") match {
    case "expression" =>
      DimensionFilter.ExpressionFilter(str(n, "column"), str(n, "operator"), value(n.get("value")))
    case "raw" =>
      DimensionFilter.RawFilter(str(n, "expression"))
    case "column_operator" =>
      DimensionFilter.ColumnOperatorFilter(
        str(n, "column"),
        str(n, "operator"),
        arr(n, "values").map(value),
        Option(n.get("negate")).exists(_.asBoolean(false)))
    case "between" =>
      DimensionFilter.BetweenFilter(
        str(n, "column"), value(n.get("lower")), value(n.get("upper")),
        Option(n.get("negate")).exists(_.asBoolean(false)))
    // registry-resolved forms (the reference's subset/supplemental filter
    // documents name dimensions/mappings; the Submitter resolves them)
    case "subset" =>
      DimensionFilter.SubsetDimensionFilter(
        str(n, "column"), arr(n, "record_dimensions").map(_.asText()))
    case "supplemental" =>
      DimensionFilter.SupplementalMappingFilter(str(n, "column"), str(n, "mapping_name"))
    case other => throw new IllegalArgumentException(s"unknown filter_type: $other")
  }

  // ------------------------------------------------------------------
  // writer — renders a query back to the same JSON dialect parse* accepts,
  // so `query.json` sidecars are re-runnable documents (the reference
  // stores the query JSON beside results, query_submitter.py:614-653).
  // DataFrame-bearing filters have no JSON form and render as an opaque
  // content token (parse rejects them; use the registry-resolved forms).
  // ------------------------------------------------------------------

  def render(q: ProjectQuery): String = {
    val n = mapper.createObjectNode()
    n.put("name", q.name)
    val ds = n.putObject("datasets")
    val arr = ds.putArray("datasets")
    q.datasets.datasets.foreach(d => arr.add(datasetRefNode(d)))
    q.datasets.expression.foreach(ds.put("expression", _))
    n.set[JsonNode]("result", resultNode(q.result))
    q.sessionTimeZone.foreach(n.put("session_time_zone", _))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  }

  def render(q: DatasetQuery): String = {
    val n = mapper.createObjectNode()
    n.put("name", q.name)
    n.set[JsonNode]("dataset", datasetRefNode(q.dataset))
    n.set[JsonNode]("result", resultNode(q.result))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  }

  private def datasetRefNode(d: DatasetRef): com.fasterxml.jackson.databind.node.ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("dataset_id", d.datasetId)
    if (d.mappings.nonEmpty) {
      val ms = n.putArray("mappings")
      d.mappings.foreach { m =>
        val mn = ms.addObject()
        mn.put("dimension", m.dimension)
        mn.put("mapping_name", m.mappingName)
        if (m.persist) mn.put("persist", true)
        m.saltPartitions.foreach(mn.put("salt_partitions", _))
      }
    }
    if (d.persist) n.put("persist", true)
    if (d.filters.nonEmpty) {
      val fs = n.putArray("filters")
      d.filters.foreach(f => fs.add(filterNode(f)))
    }
    if (d.columnRenames.nonEmpty) {
      val r = n.putArray("column_renames")
      d.columnRenames.foreach { case (from, to) =>
        val o = r.addObject(); o.put("from", from); o.put("to", to)
      }
    }
    if (d.sparkConf.nonEmpty) {
      val c = n.putObject("spark_conf")
      d.sparkConf.foreach { case (k, v) => c.put(k, v) }
    }
    d.growth.foreach { g =>
      val gn = n.putObject("growth")
      gn.put("dataset_id", g.datasetId)
      if (g.mappings.nonEmpty) {
        val ms = gn.putArray("mappings")
        g.mappings.foreach { m =>
          val mn = ms.addObject()
          mn.put("dimension", m.dimension)
          mn.put("mapping_name", m.mappingName)
        }
      }
      val jc = gn.putArray("join_columns")
      g.joinColumns.foreach(jc.add)
      gn.put("model_year_column", g.modelYearColumn)
      gn.put("base_year", g.baseYear)
      gn.put("kind", g.kind)
    }
    n
  }

  private def resultNode(r: ResultSection): com.fasterxml.jackson.databind.node.ObjectNode = {
    val n = mapper.createObjectNode()
    if (r.filters.nonEmpty) {
      val fs = n.putArray("filters")
      r.filters.foreach(f => fs.add(filterNode(f)))
    }
    if (r.supplementalColumns.nonEmpty) {
      val sc = n.putArray("supplemental_columns")
      r.supplementalColumns.foreach { s =>
        val sn = sc.addObject()
        sn.put("dimension", s.dimension)
        sn.put("mapping_name", s.mappingName)
        sn.put("column_name", s.columnName)
      }
    }
    if (r.aggregations.nonEmpty) {
      val as = n.putArray("aggregations")
      r.aggregations.foreach { a =>
        val an = as.addObject()
        val gb = an.putArray("group_by")
        a.groupBy.foreach(gb.add)
        an.put("fn", a.fn)
      }
    }
    if (r.idsToNames.nonEmpty) { val x = n.putArray("ids_to_names"); r.idsToNames.foreach(x.add) }
    if (r.sortBy.nonEmpty) { val x = n.putArray("sort_by"); r.sortBy.foreach(x.add) }
    r.pivotDimension.foreach(n.put("pivot_dimension", _))
    r.timeZone.foreach(n.put("time_zone", _))
    r.toUnit.foreach(n.put("to_unit", _))
    if (r.reports.nonEmpty) {
      val rs = n.putArray("reports")
      r.reports.foreach { case PeakLoadReport(gb, ties, tie) =>
        val rn = rs.addObject()
        rn.put("report_type", "peak_load")
        val g = rn.putArray("group_by"); gb.foreach(g.add)
        if (ties) rn.put("keep_ties", true)
        if (tie.nonEmpty) { val t = rn.putArray("tie_break"); tie.foreach(t.add) }
      }
    }
    if (r.outputRenames.nonEmpty) {
      val o = n.putArray("output_renames")
      r.outputRenames.foreach { case (from, to) =>
        val p = o.addObject(); p.put("from", from); p.put("to", to)
      }
    }
    // ALWAYS emitted: graft's Scala-side default (dimension_types) is the
    // opposite of the reference's document default (dimension_names,
    // models.py:513-519), so an absent field would mean different things to
    // the two toolchains — explicit emission keeps graft-written sidecars
    // unambiguous to reference tooling
    n.put("column_type", r.columnType)
    n
  }

  /** One JSON node per filter value — integral types widen to Long and
    * Float to Double, matching what `value(JsonNode)` parses back (the
    * round-trip normalizes numeric width, it never stringifies a number). */
  private def valueNode(v: Any): JsonNode = {
    val f = mapper.getNodeFactory
    v match {
      case l: Long => f.numberNode(l)
      case i: Int => f.numberNode(i.toLong)
      case s: Short => f.numberNode(s.toLong)
      case b: Byte => f.numberNode(b.toLong)
      case d: Double => f.numberNode(d)
      case fl: Float => f.numberNode(fl.toDouble)
      case b: Boolean => f.booleanNode(b)
      case other => f.textNode(String.valueOf(other))
    }
  }

  private[query] def filterNode(f: DimensionFilter): com.fasterxml.jackson.databind.node.ObjectNode = {
    val n = mapper.createObjectNode()
    f match {
      case DimensionFilter.ExpressionFilter(c, op, v) =>
        n.put("filter_type", "expression"); n.put("column", c); n.put("operator", op)
        n.set[JsonNode]("value", valueNode(v))
      case DimensionFilter.RawFilter(e) =>
        n.put("filter_type", "raw"); n.put("expression", e)
      case DimensionFilter.ColumnOperatorFilter(c, op, vs, neg) =>
        n.put("filter_type", "column_operator"); n.put("column", c); n.put("operator", op)
        val va = n.putArray("values")
        vs.foreach(v => va.add(valueNode(v)))
        if (neg) n.put("negate", true)
      case DimensionFilter.BetweenFilter(c, lo, hi, neg) =>
        n.put("filter_type", "between"); n.put("column", c)
        n.set[JsonNode]("lower", valueNode(lo)); n.set[JsonNode]("upper", valueNode(hi))
        if (neg) n.put("negate", true)
      case DimensionFilter.SubsetDimensionFilter(c, dims) =>
        n.put("filter_type", "subset"); n.put("column", c)
        val da = n.putArray("record_dimensions"); dims.foreach(da.add)
      case DimensionFilter.SupplementalMappingFilter(c, m) =>
        n.put("filter_type", "supplemental"); n.put("column", c); n.put("mapping_name", m)
      case opaque => // DataFrame-bearing: no JSON form, content token only
        n.put("filter_type", "opaque")
        n.put("token", graft.query.Models.contentHash(DimensionFilter.canonicalToken(opaque)))
    }
    n
  }

  private def value(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.asText()

  /** A required field: absent or JSON `null` is the document's fault. */
  private[graft] def req(n: JsonNode, field: String): JsonNode = {
    val v = n.get(field)
    require(v != null && !v.isNull, s"missing required field: $field")
    v
  }

  private[graft] def str(n: JsonNode, field: String): String = req(n, field).asText()

  private[graft] def optStr(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText())

  private[graft] def arr(n: JsonNode, field: String): Seq[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull).map(_.elements().asScala.toSeq).getOrElse(Nil)
}
