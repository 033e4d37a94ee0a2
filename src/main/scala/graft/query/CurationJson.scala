package graft.query

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import CurationModels._

/** JSON codec for curation plans — [[Json]]'s mapper and dialect
  * (JSON5 comments/trailing commas accepted on parse; render emits plain
  * JSON the parser round-trips), with `stage_type` as the stage
  * discriminator, mirroring the reference's discriminated unions
  * (ref: dsgrid/query/models.py:35-45). Filter documents reuse [[Json]]'s
  * `filter_type` union verbatim, so one filter dialect serves both the
  * project-query and curation surfaces. */
object CurationJson {

  import Json.{arr, mapper, optStr, str}

  def parse(json: String): CurationPlan = {
    val n = mapper.readTree(json)
    CurationPlan(
      name = str(n, "name"),
      input = str(n, "input"),
      stages = arr(n, "stages").map(stage))
  }

  private def stage(n: JsonNode): CurationStage = str(n, "stage_type") match {
    case "text_features" =>
      TextFeaturesStage(
        textColumn = optStr(n, "text_column").getOrElse("text"),
        features = arr(n, "features").map(_.asText()),
        overwrite = bool(n, "overwrite"),
        persist = bool(n, "persist"))
    case "gopher_flags" =>
      GopherFlagsStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        minWords = optLong(n, "min_words").getOrElse(50L),
        maxWords = optLong(n, "max_words").getOrElse(100000L),
        minMeanWordLen = optDouble(n, "min_mean_word_len").getOrElse(3.0),
        maxMeanWordLen = optDouble(n, "max_mean_word_len").getOrElse(10.0),
        maxSymbolWordRatio = optDouble(n, "max_symbol_word_ratio").getOrElse(0.1),
        maxBulletLineFrac = optDouble(n, "max_bullet_line_frac").getOrElse(0.9),
        maxEllipsisLineFrac = optDouble(n, "max_ellipsis_line_frac").getOrElse(0.3),
        minAlphaWordFrac = optDouble(n, "min_alpha_word_frac").getOrElse(0.8),
        minStopwordHits = optLong(n, "min_stopword_hits").getOrElse(2L),
        overwrite = bool(n, "overwrite"),
        persist = bool(n, "persist"))
    case "repetition" =>
      RepetitionStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        ngram = optInt(n, "ngram").getOrElse(2),
        overwrite = bool(n, "overwrite"),
        persist = bool(n, "persist"))
    case "filter" =>
      CurationFilterStage(
        filters = arr(n, "filters").map(Json.filter),
        persist = bool(n, "persist"))
    case "exact_dedup" =>
      ExactDedupStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        persist = bool(n, "persist"))
    case "minhash_dedup" =>
      MinHashDedupStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        bands = optInt(n, "bands").getOrElse(16),
        rowsPerBand = optInt(n, "rows_per_band").getOrElse(4),
        shingleSize = optInt(n, "shingle_size").getOrElse(3),
        threshold = optDouble(n, "threshold").getOrElse(0.8),
        artifacts = bool(n, "artifacts"),
        persist = bool(n, "persist"))
    case "decontaminate" =>
      DecontaminateStage(
        benchmarkInput = str(n, "benchmark_input"),
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        ngram = optInt(n, "ngram").getOrElse(8),
        minHits = optLong(n, "min_hits").getOrElse(1L),
        persist = bool(n, "persist"))
    case "split" =>
      SplitStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        splits = arr(n, "splits").map(s => str(s, "name") -> dbl(s, "weight")),
        splitColumn = optStr(n, "split_column").getOrElse("split"),
        seed = optStr(n, "seed").getOrElse(""),
        overwrite = bool(n, "overwrite"),
        persist = bool(n, "persist"))
    case "sample" =>
      SampleStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        fraction = dbl(n, "fraction"),
        seed = optStr(n, "seed").getOrElse(""),
        persist = bool(n, "persist"))
    case "select" =>
      SelectStage(
        columns = arr(n, "columns").map(_.asText()),
        persist = bool(n, "persist"))
    case "aggregate" =>
      AggregateStage(
        groupBy = arr(n, "group_by").map(_.asText()),
        aggregations = arr(n, "aggregations").map(a =>
          CurationAgg(str(a, "fn"), str(a, "column"), str(a, "alias"))),
        persist = bool(n, "persist"))
    case "sort" =>
      SortStage(by = arr(n, "by").map(_.asText()), persist = bool(n, "persist"))
    case "semantic_dedup" =>
      SemanticDedupStage(
        embeddingInput = str(n, "embedding_input"),
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        embeddingIdColumn = optStr(n, "embedding_id_column").getOrElse("vec_id"),
        embeddingColumn = optStr(n, "embedding_column").getOrElse("embedding"),
        threshold = optDouble(n, "threshold").getOrElse(0.99),
        rowsPerCentroid = optLong(n, "rows_per_centroid").getOrElse(1000L),
        persist = bool(n, "persist"))
    case "line_dedup" =>
      LineDedupStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        separator = optStr(n, "separator").getOrElse("\n"),
        persist = bool(n, "persist"))
    case "span_dedup" =>
      SpanDedupStage(
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        ngram = optInt(n, "ngram").getOrElse(8),
        overwrite = bool(n, "overwrite"),
        persist = bool(n, "persist"))
    case "pii_redact" =>
      PiiRedactStage(
        textColumn = optStr(n, "text_column").getOrElse("text"),
        persist = bool(n, "persist"))
    case "domain_cap" =>
      DomainCapStage(
        groupBy = arr(n, "group_by").map(_.asText()),
        cap = int(n, "cap"),
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        seed = optStr(n, "seed").getOrElse(""),
        persist = bool(n, "persist"))
    case "quota_sample" =>
      QuotaSampleStage(
        cellColumns = arr(n, "cell_columns").map(_.asText()),
        n = lng(n, "n"),
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        seed = optStr(n, "seed").getOrElse(""),
        persist = bool(n, "persist"))
    case "token_pack" =>
      TokenPackStage(
        groupBy = arr(n, "group_by").map(_.asText()),
        idColumn = optStr(n, "id_column").getOrElse("doc_id"),
        textColumn = optStr(n, "text_column").getOrElse("text"),
        seqLen = optLong(n, "seq_len").getOrElse(256L),
        persist = bool(n, "persist"))
    case "data_card" =>
      DataCardStage(
        textColumn = optStr(n, "text_column").getOrElse("text"),
        langColumn = optStr(n, "lang_column").getOrElse("lang"),
        groupBy = arr(n, "group_by").map(_.asText()),
        persist = bool(n, "persist"))
    case other => throw new IllegalArgumentException(s"unknown stage_type: $other")
  }

  // ------------------------------------------------------------------
  // writer — `plan.json` sidecars are re-runnable documents
  // ------------------------------------------------------------------

  def render(plan: CurationPlan): String = {
    val n = mapper.createObjectNode()
    n.put("name", plan.name)
    n.put("input", plan.input)
    val ss = n.putArray("stages")
    plan.stages.foreach(s => ss.add(stageNode(s)))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  }

  private def stageNode(s: CurationStage): ObjectNode = {
    val n = mapper.createObjectNode()
    s match {
      case TextFeaturesStage(tc, fs, _, _) =>
        n.put("stage_type", "text_features"); n.put("text_column", tc)
        val fa = n.putArray("features"); fs.foreach(fa.add)
      case GopherFlagsStage(ic, tc, mw, xw, ml, xl, sr, bf, ef, af, sh, _, _) =>
        n.put("stage_type", "gopher_flags"); n.put("id_column", ic); n.put("text_column", tc)
        n.put("min_words", mw); n.put("max_words", xw)
        n.put("min_mean_word_len", ml); n.put("max_mean_word_len", xl)
        n.put("max_symbol_word_ratio", sr); n.put("max_bullet_line_frac", bf)
        n.put("max_ellipsis_line_frac", ef); n.put("min_alpha_word_frac", af)
        n.put("min_stopword_hits", sh)
      case RepetitionStage(ic, tc, ng, _, _) =>
        n.put("stage_type", "repetition"); n.put("id_column", ic); n.put("text_column", tc)
        n.put("ngram", ng)
      case CurationFilterStage(fs, _) =>
        n.put("stage_type", "filter")
        val fa = n.putArray("filters"); fs.foreach(f => fa.add(Json.filterNode(f)))
      case ExactDedupStage(ic, tc, _) =>
        n.put("stage_type", "exact_dedup"); n.put("id_column", ic); n.put("text_column", tc)
      case MinHashDedupStage(ic, tc, b, r, sh, th, arts, _) =>
        n.put("stage_type", "minhash_dedup"); n.put("id_column", ic); n.put("text_column", tc)
        n.put("bands", b); n.put("rows_per_band", r); n.put("shingle_size", sh)
        n.put("threshold", th)
        if (arts) n.put("artifacts", true)
      case DecontaminateStage(bi, ic, tc, ng, mh, _) =>
        n.put("stage_type", "decontaminate"); n.put("benchmark_input", bi)
        n.put("id_column", ic); n.put("text_column", tc)
        n.put("ngram", ng); n.put("min_hits", mh)
      case SplitStage(ic, splits, sc, seed, _, _) =>
        n.put("stage_type", "split"); n.put("id_column", ic)
        val sa = n.putArray("splits")
        splits.foreach { case (name, w) =>
          val o = sa.addObject(); o.put("name", name); o.put("weight", w)
        }
        n.put("split_column", sc); n.put("seed", seed)
      case SampleStage(ic, fr, seed, _) =>
        n.put("stage_type", "sample"); n.put("id_column", ic)
        n.put("fraction", fr); n.put("seed", seed)
      case SelectStage(cols, _) =>
        n.put("stage_type", "select")
        val ca = n.putArray("columns"); cols.foreach(ca.add)
      case AggregateStage(gb, aggs, _) =>
        n.put("stage_type", "aggregate")
        val ga = n.putArray("group_by"); gb.foreach(ga.add)
        val aa = n.putArray("aggregations")
        aggs.foreach { a =>
          val o = aa.addObject(); o.put("fn", a.fn); o.put("column", a.column)
          o.put("alias", a.alias)
        }
      case SortStage(by, _) =>
        n.put("stage_type", "sort")
        val ba = n.putArray("by"); by.foreach(ba.add)
      case SemanticDedupStage(ei, ic, eic, ec, th, rpc, _) =>
        n.put("stage_type", "semantic_dedup"); n.put("embedding_input", ei)
        n.put("id_column", ic); n.put("embedding_id_column", eic)
        n.put("embedding_column", ec); n.put("threshold", th)
        n.put("rows_per_centroid", rpc)
      case LineDedupStage(ic, tc, sep, _) =>
        n.put("stage_type", "line_dedup"); n.put("id_column", ic)
        n.put("text_column", tc); n.put("separator", sep)
      case SpanDedupStage(ic, tc, ng, _, _) =>
        n.put("stage_type", "span_dedup"); n.put("id_column", ic)
        n.put("text_column", tc); n.put("ngram", ng)
      case PiiRedactStage(tc, _) =>
        n.put("stage_type", "pii_redact"); n.put("text_column", tc)
      case DomainCapStage(gb, cap, ic, seed, _) =>
        n.put("stage_type", "domain_cap")
        val ga = n.putArray("group_by"); gb.foreach(ga.add)
        n.put("cap", cap); n.put("id_column", ic); n.put("seed", seed)
      case QuotaSampleStage(cc, qn, ic, seed, _) =>
        n.put("stage_type", "quota_sample")
        val ca = n.putArray("cell_columns"); cc.foreach(ca.add)
        n.put("n", qn); n.put("id_column", ic); n.put("seed", seed)
      case TokenPackStage(gb, ic, tc, sl, _) =>
        n.put("stage_type", "token_pack")
        val ga = n.putArray("group_by"); gb.foreach(ga.add)
        n.put("id_column", ic); n.put("text_column", tc); n.put("seq_len", sl)
      case DataCardStage(tc, lc, gb, _) =>
        n.put("stage_type", "data_card")
        n.put("text_column", tc); n.put("lang_column", lc)
        val ga = n.putArray("group_by"); gb.foreach(ga.add)
    }
    s match {
      case a: AddsColumns if a.overwrite => n.put("overwrite", true)
      case _ => ()
    }
    if (s.persist) n.put("persist", true)
    n
  }

  private def bool(n: JsonNode, field: String): Boolean =
    Option(n.get(field)).exists(_.asBoolean(false))

  private def dbl(n: JsonNode, field: String): Double = {
    val v = n.get(field)
    require(v != null && v.isNumber, s"missing required numeric field: $field")
    v.asDouble()
  }

  private def int(n: JsonNode, field: String): Int = {
    val v = n.get(field)
    require(v != null && v.isNumber, s"missing required numeric field: $field")
    v.asInt()
  }

  private def lng(n: JsonNode, field: String): Long = {
    val v = n.get(field)
    require(v != null && v.isNumber, s"missing required numeric field: $field")
    v.asLong()
  }

  private def optInt(n: JsonNode, field: String): Option[Int] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asInt())

  private def optLong(n: JsonNode, field: String): Option[Long] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asLong())

  private def optDouble(n: JsonNode, field: String): Option[Double] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asDouble())
}
