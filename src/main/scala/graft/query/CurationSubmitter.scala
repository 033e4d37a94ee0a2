package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Aggregation, DimensionFilter}
import graft.registry.Registry
import graft.sources.{HadoopFs, Readers}
import graft.text.{Dedup, Sampling, TextFunctions}
import CurationModels._

/** Curation-plan execution: the interpreter that chains the LLM-data
  * operators a [[CurationModels.CurationPlan]] names, with the same
  * lifecycle the project-query [[Submitter]] gives dsgrid-parity queries —
  * fail-fast validation, per-stage persist/resume (ref:
  * dsgrid/query/dataset_mapping_plan.py:34-62 MapOperation.persist +
  * MapOperationCheckpoint), a content-hash result cache keyed by
  * (content token of every table read + canonical plan), and `plan.json`/`metadata.json`
  * sidecars beside every cached result (ref: query_submitter.py:614-653).
  *
  * Scale shapes are the stages' own: every stage is one of the
  * already-audited operators (map-side features, hash-groupBy exact dedup,
  * banded LSH near-dedup, content-keyed splits), so the plan's cost is the
  * sum of its stages — no driver-side row loops, no extra shuffles beyond
  * what each operator declares. Persist points are exactly the plan-cut
  * lever the reference exposes: a 100 TB pipeline persists after its
  * selective stages (dedup) so a retry resumes instead of re-tokenizing
  * the world. */
final class CurationSubmitter(
    val spark: SparkSession,
    /** directory holding `<table>.parquet` inputs */
    dataDir: String,
    /** result cache and stage checkpoints; a checkpoint is reused while
      * the tables read and the plan prefix are unchanged — both are folded into
      * the step key, so a stale checkpoint is simply never found. */
    cacheDir: Option[String] = None,
    /** registry backing `"artifacts": true` dedup stages ([[graft.registry
      * .DerivedArtifacts]]): shingle/bucket frames persist as
      * provenance-stamped registered datasets keyed by (input token +
      * plan prefix + stage params), so a re-run plan pays metadata only
      * for its signature pass (r16 verdict item 5). */
    registry: Option[graft.registry.Registry] = None) {

  /** Content token of one input table: hash over the (path, length,
    * mtime) file listing — any rewrite of the input invalidates every
    * cache and checkpoint key derived from it (the same discipline as
    * `Registry.contentToken`; metadata-only, no data read). */
  def inputToken(table: String): String =
    Registry.treeToken(spark, s"$dataDir/$table.parquet").getOrElse("missing")

  /** Content token of every table a plan reads: its input plus each
    * stage's side table (decontaminate benchmark, semantic-dedup
    * embeddings), so a rewrite of any of them invalidates the result and
    * every checkpoint. A plan without side tables keeps its input token. */
  def planToken(plan: CurationPlan): String =
    (plan.input +: plan.stages.collect {
      case st: DecontaminateStage => st.benchmarkInput
      case st: SemanticDedupStage => st.embeddingInput
    }).map(inputToken).mkString("|")

  private def load(table: String): DataFrame =
    Readers.parquet(spark, s"$dataDir/$table.parquet")

  // ------------------------------------------------------------------
  // validation — fail fast, before any Spark job (the Submitter rule:
  // without this, a bad plan surfaces as an opaque analysis exception
  // hours into a 100 TB run)
  // ------------------------------------------------------------------

  /** Walk the plan against the input's actual schema, tracking the column
    * set each stage produces; plan analysis only, no action. Raw-filter
    * text is not checked (it is arbitrary SQL), everything else is. */
  def validate(plan: CurationPlan): Unit = { explain(plan); () }

  /** Dry-run: validate the plan and return, per stage, (stage_type,
    * columns available AFTER the stage, persist flag) — the schema walk's
    * record, zero Spark jobs beyond the input schema footer reads. The
    * CLI's `--dry-run` and the API's `"validate_only"` surface this. */
  def explain(plan: CurationPlan): Seq[(String, Seq[String], Boolean)] = {
    require(plan.stages.nonEmpty, s"plan '${plan.name}': no stages")
    require(HadoopFs.exists(spark, s"$dataDir/${plan.input}.parquet"),
      s"plan '${plan.name}': input table '${plan.input}' not found under $dataDir")
    var cols = load(plan.input).columns.toSet
    def need(c: String, what: String): Unit =
      require(cols.contains(c),
        s"plan '${plan.name}': $what column '$c' does not exist at this stage " +
          s"(available: ${cols.toSeq.sorted.mkString(", ")})")
    // the name-collision guard (r15 advisory): a stage that APPENDS
    // fixed-name columns refuses when one already exists unless the stage
    // declares overwrite — column identifiers are case-INSENSITIVE in both
    // engines (the r10 cumg/cumG bug class), so the check folds case
    def adds(st: CurationStage, added: Seq[String]): Unit = {
      val existing = cols.map(_.toLowerCase)
      val clash = added.filter(c => existing.contains(c.toLowerCase))
      st match {
        case a: AddsColumns if !a.overwrite =>
          require(clash.isEmpty,
            s"plan '${plan.name}': stage output column(s) ${clash.mkString(", ")} " +
              "already exist — rename them upstream or set \"overwrite\": true " +
              "on the stage to replace them")
        case _ => ()
      }
      cols ++= added
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String], Boolean)]
    for (st <- plan.stages) { st match {
      case s @ TextFeaturesStage(tc, features, _, _) =>
        need(tc, "text")
        for (f <- features)
          require(FeatureColumns.contains(f),
            s"plan '${plan.name}': unknown feature '$f' " +
              s"(known: ${FeatureColumns.keys.toSeq.sorted.mkString(", ")})")
        adds(s, features.map(FeatureColumns))
      case st: GopherFlagsStage =>
        need(st.idColumn, "id"); need(st.textColumn, "text")
        adds(st, Seq("word_count", "mean_word_len", "symbol_word_ratio",
          "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
          "stopword_hits", "keep"))
      case st: RepetitionStage =>
        need(st.idColumn, "id"); need(st.textColumn, "text")
        require(st.ngram >= 1 && st.ngram <= 8,
          s"plan '${plan.name}': repetition ngram in [1,8]: ${st.ngram}")
        adds(st, Seq("dup_line_frac", "dup_line_char_frac", "top_ngram_char_frac"))
      case CurationFilterStage(filters, _) =>
        for (f <- filters; c <- DimensionFilter.targetColumn(f)) need(c, "filter")
      case ExactDedupStage(ic, tc, _) => need(ic, "id"); need(tc, "text")
      case st: MinHashDedupStage =>
        need(st.idColumn, "id"); need(st.textColumn, "text")
        require(st.bands > 0 && st.rowsPerBand > 0 && st.shingleSize > 0,
          s"plan '${plan.name}': minhash_dedup bands/rows_per_band/shingle_size must be positive")
        require(st.threshold > 0 && st.threshold <= 1,
          s"plan '${plan.name}': minhash_dedup threshold in (0,1]: ${st.threshold}")
        require(!st.artifacts || registry.isDefined,
          s"plan '${plan.name}': minhash_dedup \"artifacts\": true needs a " +
            "registry-configured submitter")
      case st: DecontaminateStage =>
        need(st.idColumn, "id"); need(st.textColumn, "text")
        require(st.ngram >= 1, s"plan '${plan.name}': decontaminate ngram must be >= 1")
        require(st.minHits >= 1, s"plan '${plan.name}': decontaminate min_hits must be >= 1")
        require(HadoopFs.exists(spark, s"$dataDir/${st.benchmarkInput}.parquet"),
          s"plan '${plan.name}': benchmark table '${st.benchmarkInput}' not found under $dataDir")
        val benchCols = load(st.benchmarkInput).columns.toSet
        for (c <- Seq(st.idColumn, st.textColumn))
          require(benchCols.contains(c),
            s"plan '${plan.name}': benchmark table '${st.benchmarkInput}' lacks column '$c' " +
              s"(has: ${benchCols.toSeq.sorted.mkString(", ")})")
      case s @ SplitStage(ic, splits, sc, _, _, _) =>
        need(ic, "id")
        require(splits.nonEmpty, s"plan '${plan.name}': split stage has no splits")
        require(splits.forall(_._2 > 0), s"plan '${plan.name}': split weights must be positive")
        require(splits.map(_._2).sum <= 1.0 + 1e-9,
          s"plan '${plan.name}': split weights sum to ${splits.map(_._2).sum} > 1")
        adds(s, Seq(sc))
      case SampleStage(ic, fr, _, _) =>
        need(ic, "id")
        require(fr >= 0 && fr <= 1, s"plan '${plan.name}': sample fraction in [0,1]: $fr")
      case SelectStage(selected, _) =>
        selected.foreach(need(_, "selected"))
        cols = selected.toSet
      case AggregateStage(gb, aggs, _) =>
        require(aggs.nonEmpty, s"plan '${plan.name}': aggregate stage has no aggregations")
        gb.foreach(need(_, "group-by"))
        for (a <- aggs) {
          if (a.fn != "count") need(a.column, s"aggregation '${a.alias}' input")
          require(a.fn == "mean_int" || Aggregation.builtins.contains(a.fn),
            s"plan '${plan.name}': aggregation fn not allowed: ${a.fn}")
        }
        cols = gb.toSet ++ aggs.map(_.alias)
      case SortStage(by, _) => by.foreach(need(_, "sort"))
      case st: SemanticDedupStage =>
        need(st.idColumn, "id")
        require(st.threshold > 0 && st.threshold <= 1,
          s"plan '${plan.name}': semantic_dedup threshold in (0,1]: ${st.threshold}")
        require(st.rowsPerCentroid >= 1,
          s"plan '${plan.name}': semantic_dedup rows_per_centroid must be >= 1")
        require(HadoopFs.exists(spark, s"$dataDir/${st.embeddingInput}.parquet"),
          s"plan '${plan.name}': embedding table '${st.embeddingInput}' not found under $dataDir")
        val embCols = load(st.embeddingInput).columns.toSet
        for (c <- Seq(st.embeddingIdColumn, st.embeddingColumn))
          require(embCols.contains(c),
            s"plan '${plan.name}': embedding table '${st.embeddingInput}' lacks column '$c' " +
              s"(has: ${embCols.toSeq.sorted.mkString(", ")})")
      case st: LineDedupStage =>
        need(st.idColumn, "id"); need(st.textColumn, "text")
        require(st.separator.nonEmpty, s"plan '${plan.name}': line_dedup separator is empty")
      case st: SpanDedupStage =>
        need(st.idColumn, "id"); need(st.textColumn, "text")
        require(st.ngram >= 1, s"plan '${plan.name}': span_dedup ngram must be >= 1")
        adds(st, Seq("n_dup_windows"))
      case st: PiiRedactStage => need(st.textColumn, "text")
      case st: DomainCapStage =>
        need(st.idColumn, "id")
        require(st.groupBy.nonEmpty, s"plan '${plan.name}': domain_cap needs group columns")
        st.groupBy.foreach(need(_, "group-by"))
        require(st.cap >= 1, s"plan '${plan.name}': domain_cap cap must be >= 1")
      case st: QuotaSampleStage =>
        need(st.idColumn, "id")
        require(st.cellColumns.nonEmpty, s"plan '${plan.name}': quota_sample needs cell columns")
        st.cellColumns.foreach(need(_, "cell"))
        require(st.n >= 1, s"plan '${plan.name}': quota_sample n must be >= 1")
      case st: TokenPackStage =>
        need(st.idColumn, "id"); need(st.textColumn, "text")
        require(st.groupBy.nonEmpty,
          s"plan '${plan.name}': token_pack needs group columns — a global " +
            "single-partition sort does not scale (packTrainingSequences contract)")
        st.groupBy.foreach(need(_, "group-by"))
        require(st.seqLen >= 1, s"plan '${plan.name}': token_pack seq_len must be >= 1")
        cols = st.groupBy.toSet ++ Seq("seq", "n_docs", "n_tokens")
      case st: DataCardStage =>
        need(st.textColumn, "text"); need(st.langColumn, "language")
        require(st.groupBy.nonEmpty, s"plan '${plan.name}': data_card needs group columns")
        st.groupBy.foreach(need(_, "group-by"))
        cols = st.groupBy.toSet ++ CurationModels.DataCardColumns
    }
      out += ((CurationModels.stageType(st), cols.toSeq.sorted, st.persist))
    }
    out.toSeq
  }

  // ------------------------------------------------------------------
  // interpreter
  // ------------------------------------------------------------------

  private def aggColumn(a: CurationAgg): Column = a.fn match {
    case "count" => count(lit(1)).as(a.alias)
    // integral mean via sum div count: exact, replayable bit-for-bit by
    // any engine's integer division (the oracle-discipline spelling)
    case "mean_int" =>
      org.apache.spark.sql.graft.Idiv(
        sum(col(a.column).cast("long")), count(lit(1))).as(a.alias)
    case "sum" => sum(col(a.column).cast("long")).as(a.alias)
    case fn => Aggregation.resolve(fn)(col(a.column)).as(a.alias)
  }

  /** One stage applied to one frame — every case delegates to the
    * operator registry; this class adds no operator semantics of its own.
    * `artifactKey` is the (artifact id prefix, source token) pair an
    * `"artifacts": true` dedup stage resolves under — [[submit]] derives
    * it from (plan name, plan token + canonical plan prefix); the bare
    * two-arg form (specs, ad-hoc callers) never touches the registry. */
  def applyStage(df: DataFrame, st: CurationStage): DataFrame =
    applyStage(df, st, None)

  private def applyStage(
      df: DataFrame, st: CurationStage, artifactKey: Option[(String, String)]): DataFrame = st match {
    case TextFeaturesStage(tc, features, _, _) =>
      // one materialized token pass feeds every feature (the HOF-lambda
      // CSE rule — never recompute tokenization per feature)
      val toks = df.withColumn("__cur_toks", TextFunctions.tokens(lower(col(tc))))
      val out = features.foldLeft(toks) { (d, f) =>
        f match {
          case "language" =>
            d.withColumn("lang",
              TextFunctions.languageIdFromTokens(array_distinct(col("__cur_toks"))))
          case "stopword_ratio" =>
            d.withColumn("swr", TextFunctions.stopwordRatioFromTokens(col("__cur_toks")))
          case "token_count" => d.withColumn("n_tokens", size(col("__cur_toks")))
          case "quality_score" => d.withColumn("quality", TextFunctions.qualityScore(col(tc)))
          case other => throw new IllegalArgumentException(s"unknown feature: $other")
        }
      }
      out.drop("__cur_toks")
    case st: GopherFlagsStage =>
      // the zero-join column form: every metric is a per-row expression,
      // so the gate runs in the scan stage — never a self-join back by id
      TextFunctions.gopherQualityColumns(
        df, st.textColumn,
        minWords = st.minWords, maxWords = st.maxWords,
        minMeanWordLen = st.minMeanWordLen, maxMeanWordLen = st.maxMeanWordLen,
        maxSymbolWordRatio = st.maxSymbolWordRatio,
        maxBulletLineFrac = st.maxBulletLineFrac,
        maxEllipsisLineFrac = st.maxEllipsisLineFrac,
        minAlphaWordFrac = st.minAlphaWordFrac,
        minStopwordHits = st.minStopwordHits)
    case st: RepetitionStage =>
      // deliberately NOT checkpointed (r18 adjudication of the r17 q390
      // watch item): the stage's input is read four times (this join's
      // left side + the ids/lines/grams frames inside repetitionStats),
      // but column pruning keeps the re-read branches cheap — each
      // recomputes only the upstream filter predicate, not every metric
      // column — and a measured CheckpointFresh here made q390 SLOWER
      // (3.1-3.4 s → 3.6-4.1 s isolated at sf0.1: materializing the full
      // text corpus costs more than the pruned re-scans)
      df.join(
        TextFunctions.repetitionStats(df, st.idColumn, st.textColumn, ngram = st.ngram),
        Seq(st.idColumn))
    case CurationFilterStage(filters, _) => DimensionFilter.applyAll(df, filters)
    case ExactDedupStage(ic, tc, _) => Dedup.dropExactDuplicates(df, ic, tc)
    case st: MinHashDedupStage =>
      val ic = st.idColumn
      val pairs = (registry, artifactKey) match {
        case (Some(reg), Some((prefix, sourceToken))) if st.artifacts =>
          // registry-resolved shingles + buckets (r16 verdict item 5):
          // the two map-side products persist as provenance-stamped
          // datasets; an unchanged (input, plan prefix, params) re-run
          // reads parquet instead of re-shingling the corpus. Buckets
          // build FROM the registered shingle artifact, so the pair is
          // always derived from one corpus state (the minhashArtifacts
          // convention). The candidate self-join + exact-Jaccard verify
          // run per-invocation — they are output-sized, not corpus-pass-
          // sized, and the threshold stays a verify-time knob.
          import graft.registry.DerivedArtifacts
          val params =
            s"minhash|$ic|${st.textColumn}|${st.bands}|${st.rowsPerBand}|${st.shingleSize}"
          val src = s"curation:$prefix"
          val shingles = DerivedArtifacts.resolveWithToken(
            reg, s"${prefix}__minhash_shingles", src, sourceToken, params)(
            Dedup.hashedShingleSets(df, ic, st.textColumn, st.shingleSize))
          val buckets = DerivedArtifacts.resolveWithToken(
            reg, s"${prefix}__lsh_buckets", src, sourceToken, params)(
            Dedup.lshBucketsFromSignatures(
              Dedup.minhashSignaturesFromShingles(
                shingles, ic, st.bands * st.rowsPerBand),
              ic, st.bands, st.rowsPerBand))
          Dedup.verifyJaccardOnShingles(
            shingles, Dedup.candidatePairs(buckets, ic), ic, st.threshold)
        case _ =>
          require(!st.artifacts,
            "minhash_dedup \"artifacts\": true needs a registry-configured submitter")
          Dedup.minhashNearDuplicates(df, ic, st.textColumn,
            st.bands, st.rowsPerBand, st.shingleSize, st.threshold)
      }
      Dedup.dropNearDuplicates(df, pairs, ic)
    case st: DecontaminateStage =>
      val contaminated = Dedup.ngramOverlap(
        df, load(st.benchmarkInput), st.idColumn, st.textColumn, st.ngram, st.minHits)
      df.join(contaminated.select(col(st.idColumn)), Seq(st.idColumn), "left_anti")
    case SplitStage(ic, splits, sc, seed, _, _) =>
      Sampling.splitByHash(df, ic, splits, sc, seed)
    case SampleStage(ic, fr, seed, _) => Sampling.hashSample(df, ic, fr, seed)
    case SelectStage(columns, _) => df.select(columns.map(col): _*)
    case AggregateStage(gb, aggs, _) =>
      val exprs = aggs.map(aggColumn)
      df.groupBy(gb.map(col): _*).agg(exprs.head, exprs.tail: _*)
    case SortStage(by, _) => df.sort(by.map(col): _*)
    case st: SemanticDedupStage =>
      // embeddings for the pipeline's CURRENT survivors only (an id
      // equi-join, the semi shape); rows with no embedding never enter the
      // corpus and are kept. k ∝ corpus with the k lowest-id embedded rows
      // as deterministic centroids (the q85 pattern — centroid choice only
      // affects cell SHAPES, the drop rule is threshold-exact).
      val emb = load(st.embeddingInput).select(
        col(st.embeddingIdColumn).as(st.idColumn),
        transform(col(st.embeddingColumn), x => x.cast("double")).as("__cur_emb"))
      val corpus = df.select(col(st.idColumn)).join(emb, Seq(st.idColumn))
        .transform(org.apache.spark.sql.graft.CheckpointFresh.apply) // scanned 3×: count, centroids, dedup
      val n = corpus.count()
      if (n == 0) df
      else {
        val k = math.max(4L, n / st.rowsPerCentroid).min(n)
        val cents = corpus.orderBy(col(st.idColumn)).limit(k.toInt)
          .select(col(st.idColumn).as("centroid_id"), col("__cur_emb").as("centroid"))
        val dropIds = graft.ml.Similarity
          .semanticDeduplicate(corpus, cents, st.threshold, st.idColumn, "__cur_emb")
          .filter(col("keep") === 0L)
          .select(col(st.idColumn))
        df.join(dropIds, Seq(st.idColumn), "left_anti")
      }
    case st: LineDedupStage =>
      // dropRepeatedLines keeps only (id, text); re-attach the other
      // columns by id — inner join, so fully-deduplicated docs drop
      val ded = Dedup.dropRepeatedLines(df, st.idColumn, st.textColumn, st.separator)
      df.drop(st.textColumn).join(ded, Seq(st.idColumn))
    case st: SpanDedupStage =>
      val spans = Dedup.removeDuplicateSpans(df, st.idColumn, st.textColumn, st.ngram)
      df.drop(st.textColumn)
        .join(spans.withColumnRenamed("cleaned_text", st.textColumn), Seq(st.idColumn))
    case st: PiiRedactStage =>
      df.withColumn(st.textColumn, TextFunctions.redact(col(st.textColumn)))
    case st: DomainCapStage =>
      Sampling.capPerGroup(df, st.groupBy, st.cap,
        orderBy = Seq(Sampling.uniformHash(col(st.idColumn), st.seed), col(st.idColumn)))
    case st: QuotaSampleStage =>
      Sampling.quotaBalancedSample(df, st.cellColumns, st.idColumn, st.n, st.seed,
        (c, s) => Sampling.uniformHash(c, s))
    case st: TokenPackStage =>
      val toked = df.withColumn("__cur_ntok",
        TextFunctions.tokenCount(col(st.textColumn)).cast("long"))
      val packed = graft.text.Sharding.packTrainingSequences(
        toked, st.idColumn, "__cur_ntok", st.seqLen, st.groupBy)
      graft.text.Sharding.sequenceManifest(packed, "__cur_ntok", st.seqLen, st.groupBy)
        .select((st.groupBy.map(col) :+ col("seq").cast("long").as("seq") :+
          col("n_docs").cast("long").as("n_docs") :+
          col("n_tokens").cast("long").as("n_tokens")): _*)
    case st: DataCardStage =>
      graft.text.DataCard.dataCard(df, st.textColumn, st.langColumn, st.groupBy)
  }

  /** Run the plan. With a `cacheDir`: stage persist points checkpoint to
    * `curation_steps/step_<key>` keyed by (plan token + plan prefix) —
    * reruns of the same prefix over unchanged tables resume from the
    * checkpoint; the final result publishes atomically under
    * `cached_tables/<key>` with `plan.json` + `metadata.json` sidecars,
    * and an identical resubmission is a pure cache read. */
  def submit(plan: CurationPlan): DataFrame = {
    validate(plan)
    lazy val token = planToken(plan)
    def build(): DataFrame =
      plan.stages.zipWithIndex.foldLeft(load(plan.input)) { case (df, (st, i)) =>
        // artifact key for this stage: the frame a stage sees is fully
        // determined by (input content, stages BEFORE it) — prefix i-1 —
        // while the stage's own params ride the artifact params token
        // stage index in the id keeps two dedup stages in one plan from
        // sharing (and perpetually invalidating) one artifact pair
        val artifactKey = registry.map { _ =>
          (s"curation__${plan.name}__s$i",
            Models.contentHash(token + CurationModels.canonicalPrefix(plan, i - 1)))
        }
        cacheDir match {
          case Some(dir) if st.persist =>
            val stepKey = Models.contentHash(token + CurationModels.canonicalPrefix(plan, i))
            FileCache.cached(spark, s"$dir/curation_steps", s"step_$stepKey")(applyStage(df, st, artifactKey))
          case _ => applyStage(df, st, artifactKey)
        }
      }
    cacheDir match {
      case None => build()
      case Some(dir) =>
        val key = Models.contentHash(token + CurationModels.canonical(plan))
        val df = FileCache.cached(spark, s"$dir/cached_tables", key)(build())
        writeSidecars(s"$dir/cached_tables/$key", plan, token, df)
        df
    }
  }

  /** Run the plan and REGISTER the result as a dataset (validate = false —
    * curated corpora are engine-derived, not user fact tables), with the
    * plan document + input token stamped as a `curation.json` provenance
    * sidecar — the curation twin of the project-query `register-derived`
    * verb, so a curated corpus enters the same registry lifecycle
    * (listing, content tokens, derived artifacts) as any other dataset. */
  def submitAndRegister(
      reg: graft.registry.Registry, datasetId: String, plan: CurationPlan): DataFrame = {
    val result = submit(plan)
    graft.registry.Registry.registerDataset(reg, datasetId, result, validate = false)
    HadoopFs.writeJson(spark, s"${reg.root}/datasets/$datasetId/curation.json") { n =>
      n.put("dataset_id", datasetId)
      n.put("input_token", inputToken(plan.input))
      n.set[com.fasterxml.jackson.databind.JsonNode]("plan", Json.mapper.readTree(CurationJson.render(plan)))
    }
    reg.loadData(datasetId)
  }

  /** The published cache directory a plan resolves to (for tests and for
    * CLI status output). */
  def cacheEntryDir(plan: CurationPlan): Option[String] =
    cacheDir.map(dir =>
      s"$dir/cached_tables/${Models.contentHash(planToken(plan) + CurationModels.canonical(plan))}")

  private def writeSidecars(
      keyDir: String, plan: CurationPlan, token: String, df: DataFrame): Unit =
    if (!HadoopFs.exists(spark, s"$keyDir/plan.json")) {
      HadoopFs.writeText(spark, s"$keyDir/plan.json", CurationJson.render(plan))
      HadoopFs.writeJson(spark, s"$keyDir/metadata.json") { n =>
        n.put("name", plan.name)
        n.put("input", plan.input)
        // provenance: which table state produced this result (the plan
        // token; the cache key is a one-way hash — without this the entry
        // is unattributable after a table changes)
        n.put("input_token", token)
        val cols = n.putArray("columns")
        df.columns.foreach(cols.add)
      }
    }
}
