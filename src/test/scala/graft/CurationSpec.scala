package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.DimensionFilter
import graft.query.{CurationJson, CurationSubmitter}
import graft.query.CurationModels._
import graft.text.{Dedup, Sampling, TextFunctions}

/** The declarative curation-pipeline surface: JSON round-trip, submitter
  * semantics vs the directly-composed operators, two-level caching with
  * sidecars, per-stage persist/resume, input-token invalidation, and the
  * `curate` CLI verb. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** A corpus with: english docs (stopword-bearing), an exact duplicate
    * pair (same normalized content, different ids), a short doc, and a
    * non-english doc. */
  private def writeCorpus(): String = {
    val dir = Files.createTempDirectory("graft-curation-data").toString
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog were in the yard", "web"),
      (2L, "The quick brown fox, and the lazy dog; were in the yard!", "web"), // dup of 1
      (3L, "a list of numbers follows and then some more of the words go here", "web"),
      (4L, "el rapido zorro marron y el perro perezoso en la casa de la ciudad", "web"),
      (5L, "short text", "books"),
      (6L, "it was the best of times and it was the worst of times for all of us", "books"),
      (7L, "it was the best of times and it was the worst of times for all of us", "books"), // dup of 6
      (8L, "we hold these truths to be self evident that all men are created equal and so on", "books"))
      .toDF("doc_id", "text", "source")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/docs.parquet")
    // a benchmark table sharing doc 8's text (the decontamination target)
    Seq((100L, "we hold these truths to be self evident that all men are created equal and so on"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bench.parquet")
    // embeddings for the semantic_dedup stage: docs 1 and 2 collinear
    // (cosine exactly 1 — ×2 scaling is IEEE-exact), doc 3 orthogonal;
    // docs 4+ have no embedding at all (must be kept)
    Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/emb.parquet")
    dir
  }

  private val fullPlan = CurationPlan(
    "spec_pipeline", "docs",
    Seq(
      TextFeaturesStage("text", Seq("language", "stopword_ratio", "token_count", "quality_score")),
      GopherFlagsStage(minWords = 5L, minMeanWordLen = 2.0, minStopwordHits = 1L),
      RepetitionStage(ngram = 3),
      SelectStage(Seq("doc_id", "text", "source", "lang", "swr", "n_tokens")),
      CurationFilterStage(Seq(
        DimensionFilter.RawFilter("lang = 'en'"),
        DimensionFilter.ExpressionFilter("swr", ">=", 0.05))),
      ExactDedupStage("doc_id", "text", persist = true),
      DecontaminateStage("bench", ngram = 5),
      MinHashDedupStage("doc_id", "text", bands = 8, rowsPerBand = 2, shingleSize = 2,
        threshold = 0.9),
      SplitStage("doc_id", Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)),
      SampleStage("doc_id", fraction = 1.0, seed = "s"),
      SelectStage(Seq("doc_id", "split", "n_tokens")),
      AggregateStage(Seq("split"), Seq(
        CurationAgg("count", "doc_id", "n_docs"),
        CurationAgg("sum", "n_tokens", "total_tokens"),
        CurationAgg("mean_int", "n_tokens", "mean_tokens"))),
      SortStage(Seq("split"))))

  /** The round-15/16 stage families, exercised for round-trip + semantics. */
  private val extendedPlan = CurationPlan(
    "spec_extended", "docs",
    Seq(
      SemanticDedupStage("emb", "doc_id", "vec_id", "embedding",
        threshold = 0.99, rowsPerCentroid = 500L),
      LineDedupStage("doc_id", "text", separator = "\n"),
      SpanDedupStage("doc_id", "text", ngram = 6, overwrite = true),
      PiiRedactStage("text"),
      DomainCapStage(Seq("source"), cap = 3, seed = "cap"),
      QuotaSampleStage(Seq("source"), n = 4L, seed = "q"),
      TokenPackStage(Seq("source"), seqLen = 16L)))

  test("CurationJson round-trips every stage type") {
    val back = CurationJson.parse(CurationJson.render(fullPlan))
    assert(back == fullPlan)
    // the extended (round-16) stage families round-trip too, incl. the
    // overwrite flag and every non-default parameter
    assert(CurationJson.parse(CurationJson.render(extendedPlan)) == extendedPlan)
    // defaults materialize on parse (a minimal document per new stage)
    val mini = CurationJson.parse("""{
      "name": "m", "input": "docs",
      "stages": [
        {"stage_type": "semantic_dedup", "embedding_input": "emb"},
        {"stage_type": "line_dedup"},
        {"stage_type": "span_dedup"},
        {"stage_type": "pii_redact"},
        {"stage_type": "domain_cap", "group_by": ["source"], "cap": 7},
        {"stage_type": "quota_sample", "cell_columns": ["source"], "n": 9},
        {"stage_type": "token_pack", "group_by": ["source"]}
      ]}""")
    assert(mini.stages == Seq(
      SemanticDedupStage("emb"), LineDedupStage(), SpanDedupStage(),
      PiiRedactStage(), DomainCapStage(Seq("source"), 7),
      QuotaSampleStage(Seq("source"), 9L), TokenPackStage(Seq("source"))))
    // JSON5 conveniences parse too (comments, trailing commas)
    val doc = """{
      // a curation plan
      "name": "p", "input": "docs",
      "stages": [ {"stage_type": "exact_dedup", "persist": true}, ]
    }"""
    assert(CurationJson.parse(doc) ==
      CurationPlan("p", "docs", Seq(ExactDedupStage(persist = true))))
    // unknown stage_type fails loudly
    val bad = intercept[IllegalArgumentException] {
      CurationJson.parse("""{"name":"p","input":"d","stages":[{"stage_type":"nope"}]}""")
    }
    assert(bad.getMessage.contains("unknown stage_type"))
  }

  test("submit matches the directly-composed operator chain") {
    val dir = writeCorpus()
    val sub = new CurationSubmitter(spark, dir)
    val plan = CurationPlan(
      "direct", "docs",
      Seq(
        TextFeaturesStage("text", Seq("language", "stopword_ratio", "token_count")),
        CurationFilterStage(Seq(DimensionFilter.RawFilter("lang = 'en' AND swr >= 0.05"))),
        ExactDedupStage(),
        SplitStage("doc_id", Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))))
    val got = sub.submit(plan)

    // the same composition, spelled directly against the operators
    val base = spark.read.parquet(s"$dir/docs.parquet")
      .withColumn("__toks", TextFunctions.tokens(lower(col("text"))))
      .withColumn("lang", TextFunctions.languageIdFromTokens(array_distinct(col("__toks"))))
      .withColumn("swr", TextFunctions.stopwordRatioFromTokens(col("__toks")))
      .withColumn("n_tokens", size(col("__toks")))
      .drop("__toks")
      .filter("lang = 'en' AND swr >= 0.05")
    val deduped = Dedup.dropExactDuplicates(base, "doc_id", "text")
    val expected = Sampling.splitByHash(deduped, "doc_id",
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
    assert(sortedRows(got) == sortedRows(expected))
    // the dedup actually dropped the larger-id exact duplicates
    val ids = got.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(2L) && !ids.contains(7L))
    assert(ids.contains(1L) && ids.contains(6L))
    // non-english and stopword-poor docs are gone
    assert(!ids.contains(4L))
  }

  test("extended stages match the directly-composed operators") {
    val dir = writeCorpus()
    val sub = new CurationSubmitter(spark, dir)
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    // semantic_dedup: docs 1/2 are collinear (cos = 1 > 0.99) -> the
    // min-(centroid_sim, id) member of the pair survives; doc 3 is
    // orthogonal to both; docs 4-8 have no embedding and must be KEPT
    val sd = sub.submit(CurationPlan("sd", "docs", Seq(
      SemanticDedupStage("emb", "doc_id", "vec_id", "embedding", 0.99, 500L))))
      .select("doc_id").as[Long].collect().toSet
    assert(sd.intersect(Set(1L, 2L)).size == 1, s"exactly one of the pair: $sd")
    assert(Set(3L, 4L, 5L, 6L, 7L, 8L).subsetOf(sd))
    // line_dedup delegates to dropRepeatedLines with columns re-attached
    val ld = sub.submit(CurationPlan("ld", "docs", Seq(LineDedupStage())))
    val ldExpected = docs.drop("text")
      .join(Dedup.dropRepeatedLines(docs, "doc_id", "text"), Seq("doc_id"))
    assert(sortedRows(ld) == sortedRows(ldExpected))
    assert(ld.columns.toSet == Set("doc_id", "text", "source"))
    // span_dedup rewrites text in place and appends n_dup_windows
    val sp = sub.submit(CurationPlan("sp", "docs", Seq(
      SpanDedupStage(ngram = 6, overwrite = true))))
    val spExpected = docs.drop("text").join(
      Dedup.removeDuplicateSpans(docs, "doc_id", "text", 6)
        .withColumnRenamed("cleaned_text", "text"), Seq("doc_id"))
    assert(sortedRows(sp) == sortedRows(spExpected))
    // the 14-token docs 6/7 share every 6-token window: both lose all text
    assert(sp.filter(col("doc_id").isin(6L, 7L))
      .select("text").as[String].collect().forall(_.isEmpty))
    // pii_redact: emails/phones scrubbed in place (inject one first)
    val pr = sub.submit(CurationPlan("pr", "docs", Seq(PiiRedactStage())))
    assert(sortedRows(pr) == sortedRows(
      docs.withColumn("text", TextFunctions.redact(col("text")))))
    // domain_cap: at most `cap` rows per source, hash-order stable
    val dc = sub.submit(CurationPlan("dc", "docs", Seq(
      DomainCapStage(Seq("source"), cap = 2, seed = "cap"))))
    val dcExpected = Sampling.capPerGroup(docs, Seq("source"), 2,
      Seq(Sampling.uniformHash(col("doc_id"), "cap"), col("doc_id")))
    assert(sortedRows(dc) == sortedRows(dcExpected))
    assert(dc.groupBy("source").count().select("count").as[Long].collect().forall(_ <= 2))
    // quota_sample: n = 4 over 2 cells -> 2 each
    val qs = sub.submit(CurationPlan("qs", "docs", Seq(
      QuotaSampleStage(Seq("source"), n = 4L, seed = "q"))))
    assert(qs.count() == 4L &&
      qs.groupBy("source").count().select("count").as[Long].collect().forall(_ == 2))
    // token_pack: the per-sequence manifest, seqLen slots all filled
    // except each group's last sequence
    val tp = sub.submit(CurationPlan("tp", "docs", Seq(
      TokenPackStage(Seq("source"), seqLen = 16L), SortStage(Seq("source", "seq")))))
    assert(tp.columns.toSeq == Seq("source", "seq", "n_docs", "n_tokens"))
    val toked = docs.withColumn("__t", TextFunctions.tokenCount(col("text")).cast("long"))
    val totals = toked.groupBy("source").agg(sum("__t").as("tot"))
      .as[(String, Long)].collect().toMap
    val manifest = tp.as[(String, Long, Long, Long)].collect()
    for ((src, tot) <- totals)
      assert(manifest.filter(_._1 == src).map(_._4).sum == tot,
        s"every token lands in exactly one sequence for $src")
    for ((src, seq, _, ntok) <- manifest)
      assert(ntok == 16L || seq == manifest.filter(_._1 == src).map(_._2).max,
        s"only the last sequence of $src may be partial")
  }

  test("name-collision guard: appended columns refuse without overwrite") {
    val dir = writeCorpus()
    val sub = new CurationSubmitter(spark, dir)
    // gopher_flags twice: the second stage's outputs all exist already
    val e = intercept[IllegalArgumentException](sub.submit(CurationPlan(
      "g2", "docs", Seq(GopherFlagsStage(), GopherFlagsStage()))))
    assert(e.getMessage.contains("already exist") && e.getMessage.contains("overwrite"))
    // declaring overwrite lifts the refusal
    assert(sub.submit(CurationPlan("g2o", "docs",
      Seq(GopherFlagsStage(), GopherFlagsStage(overwrite = true)))).count() > 0)
    // the check folds case (column identifiers are case-insensitive in
    // both engines -- the r10 cumg/cumG lesson)
    val e2 = intercept[IllegalArgumentException](sub.submit(CurationPlan(
      "split2", "docs", Seq(
        SplitStage("doc_id", Seq("a" -> 0.5), splitColumn = "SOURCE")))))
    assert(e2.getMessage.contains("already exist"))
    // text_features over a corpus that already has the feature column
    val e3 = intercept[IllegalArgumentException](sub.submit(CurationPlan(
      "tf2", "docs", Seq(
        TextFeaturesStage("text", Seq("language")),
        TextFeaturesStage("text", Seq("language"))))))
    assert(e3.getMessage.contains("lang"))
  }

  test("decontaminate stage drops exactly the benchmark-overlapping documents") {
    val dir = writeCorpus()
    val sub = new CurationSubmitter(spark, dir)
    val plan = CurationPlan("decon", "docs", Seq(
      DecontaminateStage("bench", ngram = 5),
      SortStage(Seq("doc_id"))))
    val ids = sub.submit(plan).select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(8L)) // shares every 5-gram with the benchmark
    assert(ids.contains(1L) && ids.contains(6L)) // unrelated docs survive
    // missing benchmark table fails validation, not mid-job
    val bad = intercept[IllegalArgumentException](sub.submit(
      CurationPlan("b", "docs", Seq(DecontaminateStage("ghost_bench")))))
    assert(bad.getMessage.contains("benchmark table"))
  }

  test("result cache: sidecars written, rerun is a pure cache read, input change invalidates") {
    val dir = writeCorpus()
    val cache = Files.createTempDirectory("graft-curation-cache").toString
    val sub = new CurationSubmitter(spark, dir, Some(cache))
    val plan = fullPlan
    val first = sub.submit(plan)
    val firstRows = sortedRows(first)
    val entry = sub.cacheEntryDir(plan).get
    assert(Files.exists(java.nio.file.Paths.get(s"$entry/table.parquet")))
    assert(Files.exists(java.nio.file.Paths.get(s"$entry/plan.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$entry/metadata.json")))
    // the plan.json sidecar is a re-runnable document equal to the plan
    assert(CurationJson.parse(Files.readString(java.nio.file.Paths.get(s"$entry/plan.json")))
      == plan)
    // no tmp-dir leftovers from the atomic publish
    val leftovers = new java.io.File(s"$cache/cached_tables").listFiles()
      .map(_.getName).filter(_.startsWith(".tmp"))
    assert(leftovers.isEmpty)
    // rerun: same rows, and the frame reads FROM THE CACHE (all input
    // files of the returned plan live under the cache entry)
    val again = sub.submit(plan)
    assert(sortedRows(again) == firstRows)
    assert(again.inputFiles.nonEmpty && again.inputFiles.forall(_.contains("cached_tables")))
    // rewriting the input with different content yields a different key
    val keyBefore = entry
    Seq((1L, "totally new corpus", "web")).toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val sub2 = new CurationSubmitter(spark, dir, Some(cache))
    assert(sub2.cacheEntryDir(plan).get != keyBefore)
  }

  test("per-stage persist/resume: checkpoint reused on rerun, keyed by plan prefix") {
    val dir = writeCorpus()
    val cache = Files.createTempDirectory("graft-curation-steps").toString
    val plan = CurationPlan(
      "resumable", "docs",
      Seq(
        TextFeaturesStage("text", Seq("language", "token_count")),
        ExactDedupStage(persist = true),
        SortStage(Seq("doc_id"))))
    val sub = new CurationSubmitter(spark, dir, Some(cache))
    val r1 = sortedRows(sub.submit(plan))
    val steps = new java.io.File(s"$cache/curation_steps").listFiles().map(_.getName)
    assert(steps.length == 1 && steps.head.startsWith("step_"))
    val marker = new java.io.File(s"$cache/curation_steps/${steps.head}/table.parquet", "_SUCCESS")
    assert(marker.isFile, s"no checkpoint marker at $marker")
    val mtime = marker.lastModified()
    // drop the published result (simulating an interrupted downstream) and
    // resubmit: the checkpoint is REUSED (marker untouched), result equal
    val entry = sub.cacheEntryDir(plan).get
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    deleteRec(new java.io.File(entry))
    val r2 = sortedRows(sub.submit(plan))
    assert(r2 == r1)
    assert(marker.lastModified() == mtime)
    // a DIFFERENT prefix (changed upstream stage) gets its own step key —
    // the stale checkpoint is never found, exactly like the reference's
    // mapping_plan_hash guard (dataset_mapping_plan.py:46-62)
    val plan2 = plan.copy(stages = plan.stages.updated(
      0, TextFeaturesStage("text", Seq("language", "stopword_ratio", "token_count"))))
    sub.submit(plan2)
    assert(new java.io.File(s"$cache/curation_steps").listFiles().length == 2)
  }

  test("fail-fast validation rejects bad plans before any job") {
    val dir = writeCorpus()
    val sub = new CurationSubmitter(spark, dir)
    def bad(plan: CurationPlan, fragment: String): Unit = {
      val e = intercept[IllegalArgumentException](sub.submit(plan))
      assert(e.getMessage.contains(fragment), s"message: ${e.getMessage}")
    }
    bad(CurationPlan("p", "nope", Seq(SortStage(Seq("doc_id")))), "not found")
    bad(CurationPlan("p", "docs", Seq(TextFeaturesStage("text", Seq("vibes")))),
      "unknown feature")
    bad(CurationPlan("p", "docs", Seq(SortStage(Seq("no_such")))), "does not exist")
    // features exist only AFTER their stage: filter on swr without it fails
    bad(CurationPlan("p", "docs",
      Seq(CurationFilterStage(Seq(DimensionFilter.ExpressionFilter("swr", ">=", 0.05))))),
      "does not exist")
    bad(CurationPlan("p", "docs", Seq(
      AggregateStage(Seq("source"), Seq(CurationAgg("median_of_medians", "doc_id", "x"))))),
      "not allowed")
    bad(CurationPlan("p", "docs", Seq(
      SplitStage("doc_id", Seq("a" -> 0.9, "b" -> 0.9)))), "sum")
    bad(CurationPlan("p", "docs", Nil), "no stages")
  }

  test("submitAndRegister: curated result enters the registry with plan provenance") {
    val dir = writeCorpus()
    val sub = new CurationSubmitter(spark, dir)
    val plan = CurationPlan("curated_en", "docs", Seq(
      TextFeaturesStage("text", Seq("language", "token_count")),
      CurationFilterStage(Seq(DimensionFilter.RawFilter("lang = 'en'"))),
      ExactDedupStage()))
    val root = Files.createTempDirectory("graft-curate-reg").toString
    val reg = graft.registry.Registry(spark, root)
    val back = sub.submitAndRegister(reg, "corpus_en_v1", plan)
    assert(reg.listDatasets().contains("corpus_en_v1"))
    // the returned frame reads the REGISTERED parquet, values = submit(plan)
    assert(back.inputFiles.forall(_.contains(root)))
    assert(sortedRows(back) == sortedRows(sub.submit(plan)))
    // provenance sidecar: the plan document round-trips + the input token
    val prov = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(java.nio.file.Paths.get(
        s"$root/datasets/corpus_en_v1/curation.json")))
    assert(prov.get("dataset_id").asText() == "corpus_en_v1")
    assert(prov.get("input_token").asText() == sub.inputToken("docs"))
    assert(CurationJson.parse(prov.get("plan").toString) == plan)
    // the registered corpus immediately works with derived artifacts
    // (the registry lifecycle the registration exists for)
    val (sh, _) = graft.registry.DerivedArtifacts
      .minhashArtifacts(reg, "corpus_en_v1", bands = 8, rowsPerBand = 2)
    assert(sh.count() == back.count())
    // CLI twin
    val planFile = Files.createTempFile("graft-curate-reg", ".json")
    Files.writeString(planFile, CurationJson.render(plan))
    assert(Cli.run(Array(
      "curate", dir, planFile.toString, "corpus_en_v2", "--register", root)) == 0)
    assert(graft.registry.Registry(spark, root).listDatasets().contains("corpus_en_v2"))
  }

  test("explain dry-run: per-stage schemas, zero execution; CLI --dry-run writes nothing") {
    val dir = writeCorpus()
    val sub = new CurationSubmitter(spark, dir)
    val plan = CurationPlan("dry", "docs", Seq(
      TextFeaturesStage("text", Seq("language", "token_count")),
      SelectStage(Seq("doc_id", "lang", "n_tokens")),
      AggregateStage(Seq("lang"), Seq(CurationAgg("count", "doc_id", "n")), persist = true)))
    val stages = sub.explain(plan)
    assert(stages.map(_._1) == Seq("text_features", "select", "aggregate"))
    assert(stages(0)._2 == Seq("doc_id", "lang", "n_tokens", "source", "text"))
    assert(stages(1)._2 == Seq("doc_id", "lang", "n_tokens"))
    assert(stages(2)._2 == Seq("lang", "n") && stages(2)._3)
    // stageType discriminators are exactly the codec's spellings
    for (st <- fullPlan.stages ++ extendedPlan.stages)
      assert(CurationJson.render(CurationPlan("p", "docs", Seq(st)))
        .contains("\"" + graft.query.CurationModels.stageType(st) + "\""))
    // a bad plan still refuses through explain
    assertThrows[IllegalArgumentException](
      sub.explain(CurationPlan("bad", "docs", Seq(SortStage(Seq("ghost"))))))
    // CLI --dry-run: prints the walk, writes NO output directory content
    val planFile = Files.createTempFile("graft-dry", ".json")
    Files.writeString(planFile, CurationJson.render(plan))
    val outDir = Files.createTempDirectory("graft-dry-out").toString
    assert(Cli.run(Array("curate", dir, planFile.toString, outDir, "--dry-run")) == 0)
    assert(new java.io.File(outDir).listFiles().isEmpty)
    val badFile = Files.createTempFile("graft-dry-bad", ".json")
    Files.writeString(badFile,
      """{"name":"b","input":"docs","stages":[{"stage_type":"sort","by":["ghost"]}]}""")
    assert(Cli.run(Array("curate", dir, badFile.toString, outDir, "--dry-run")) == 1)
  }

  test("curate CLI verb: plan document to parquet + sidecar; bad plan exits 1") {
    val dir = writeCorpus()
    val planFile = Files.createTempFile("graft-curate", ".json")
    Files.writeString(planFile, CurationJson.render(CurationPlan(
      "cli_curate", "docs",
      Seq(
        TextFeaturesStage("text", Seq("language", "token_count")),
        CurationFilterStage(Seq(DimensionFilter.RawFilter("lang = 'en'"))),
        PiiRedactStage(),
        DomainCapStage(Seq("source"), cap = 3, seed = "cli"),
        AggregateStage(Seq("source"), Seq(
          CurationAgg("count", "doc_id", "n_docs"),
          CurationAgg("sum", "n_tokens", "total_tokens"))),
        SortStage(Seq("source"))))))
    val outDir = Files.createTempDirectory("graft-curate-out").toString
    val cache = Files.createTempDirectory("graft-curate-cache").toString
    assert(Cli.run(Array("curate", dir, planFile.toString, outDir, "--cache", cache)) == 0)
    val back = spark.read.parquet(s"$outDir/cli_curate.parquet")
    assert(back.columns.toSet == Set("source", "n_docs", "total_tokens"))
    assert(back.count() == 2) // web + books both have english docs
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/plan.json")))
    // the cache also holds the entry (CLI wired the cacheDir through)
    assert(new java.io.File(s"$cache/cached_tables").listFiles().nonEmpty)
    // a plan referencing a missing column exits 1 with a clean message
    val badFile = Files.createTempFile("graft-curate-bad", ".json")
    Files.writeString(badFile,
      """{"name":"b","input":"docs","stages":[{"stage_type":"sort","by":["ghost"]}]}""")
    assert(Cli.run(Array("curate", dir, badFile.toString, outDir)) == 1)
  }
}
