package graft

import org.apache.spark.sql.functions._

import graft.query.{CurationJson, CurationModels, CurationSubmitter}
import graft.registry.Registry

/** Round-17 contracts: the curation↔registry-artifact bridge (an
  * `"artifacts": true` minhash dedup stage resolves its shingle/bucket
  * frames through DerivedArtifacts — value-identical to the direct stage,
  * metadata-only on a re-run, rebuilt when the input changes), the
  * data_card stage's delegation to text.DataCard, and the API card route
  * contract pieces that don't need HTTP (see ApiSpec for the route). */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Tiny corpus with one planted near-dup pair (doc 1 ≈ doc 101: last
    * word dropped from a 12-token text) and unrelated singletons. */
  private def writeCorpus(dir: String, rev: Int = 0): Unit = {
    val words = (0 until 12).map(i => s"tok${i}x$rev").mkString(" ")
    val clipped = (0 until 11).map(i => s"tok${i}x$rev").mkString(" ")
    Seq(
      (1L, "a", words),
      (101L, "a", clipped),
      (2L, "b", (20 until 32).map(i => s"w$i").mkString(" ")),
      (3L, "b", (40 until 52).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/corpus.parquet")
  }

  private val planDoc = """{
    "name": "spec_artifact_dedup",
    "input": "corpus",
    "stages": [
      {"stage_type": "minhash_dedup", "artifacts": true, "threshold": 0.8},
      {"stage_type": "sort", "by": ["doc_id"]}
    ]
  }"""

  test("artifact-backed minhash stage: value-identical to the direct stage") {
    val dataDir = java.nio.file.Files.createTempDirectory("r17_art_data").toString
    writeCorpus(dataDir)
    val reg = Registry(spark, java.nio.file.Files.createTempDirectory("r17_art_reg").toString)
    val plan = CurationJson.parse(planDoc)
    val direct = CurationJson.parse(planDoc.replace("\"artifacts\": true", "\"artifacts\": false"))
    val withReg = new CurationSubmitter(spark, dataDir, registry = Some(reg))
    val bare = new CurationSubmitter(spark, dataDir)
    val a = withReg.submit(plan).select("doc_id").as[Long].collect().toSeq
    val b = bare.submit(direct).select("doc_id").as[Long].collect().toSeq
    assert(a == Seq(1L, 2L, 3L)) // 101 dropped as the larger-id near-dup
    assert(a == b)
    // both artifacts registered with provenance
    assert(reg.listDatasets().toSet ==
      Set("curation__spec_artifact_dedup__s0__minhash_shingles",
        "curation__spec_artifact_dedup__s0__lsh_buckets"))
  }

  test("second submit resolves artifacts metadata-only: no rebuild, zero-job resolve") {
    val dataDir = java.nio.file.Files.createTempDirectory("r17_art2_data").toString
    writeCorpus(dataDir)
    val reg = Registry(spark, java.nio.file.Files.createTempDirectory("r17_art2_reg").toString)
    val plan = CurationJson.parse(planDoc)
    val sub = new CurationSubmitter(spark, dataDir, registry = Some(reg))
    val first = sub.submit(plan).select("doc_id").as[Long].collect().toSeq
    val ids = Seq("curation__spec_artifact_dedup__s0__minhash_shingles",
      "curation__spec_artifact_dedup__s0__lsh_buckets")
    def artifactMtimes(): Seq[Long] = ids.flatMap { id =>
      val d = new java.io.File(s"${reg.root}/datasets/$id")
      Option(d.listFiles()).getOrElse(Array.empty).map(_.lastModified()).toSeq
    }.sorted
    val m0 = artifactMtimes()
    assert(m0.nonEmpty)
    // the re-run never rewrites the artifacts (the shingle pass — the
    // corpus-pass-sized cost — is not paid again); the downstream
    // candidate join + CC run eagerly from the REGISTERED parquet, which
    // is the designed residual cost (output-sized, not corpus-pass-sized)
    val second = sub.submit(plan).select("doc_id").as[Long].collect().toSeq
    assert(second == first)
    assert(artifactMtimes() == m0, "artifact parquet must not be rewritten on a hit")
    // and the resolve itself is metadata-only: a hit under the recorded
    // provenance runs ZERO Spark jobs and never invokes the build thunk
    val (srcTok, params) = graft.registry.DerivedArtifacts.provenance(reg, ids.head).get
    val jobs = countJobs {
      graft.registry.DerivedArtifacts.resolveWithToken(
        reg, ids.head, "curation:spec", srcTok, params)(
        sys.error("build thunk must not run on a provenance hit"))
    }
    // zero jobs: the artifact table opens from its footer schema without a
    // schema-inference task, and the corpus-pass shingle build never runs
    // (the throwing thunk above proves it is not invoked)
    assert(jobs == 0L, s"expected a metadata-only resolve (0 jobs), saw $jobs jobs")
  }

  test("input rewrite invalidates the artifacts (rebuild, fresh provenance)") {
    val dataDir = java.nio.file.Files.createTempDirectory("r17_art3_data").toString
    writeCorpus(dataDir)
    val reg = Registry(spark, java.nio.file.Files.createTempDirectory("r17_art3_reg").toString)
    val plan = CurationJson.parse(planDoc)
    val sub = new CurationSubmitter(spark, dataDir, registry = Some(reg))
    sub.submit(plan).collect()
    val prov0 = graft.registry.DerivedArtifacts.provenance(
      reg, "curation__spec_artifact_dedup__s0__minhash_shingles").get
    Thread.sleep(1100) // mtime granularity: ensure the rewrite is observable
    writeCorpus(dataDir, rev = 1)
    val out = sub.submit(plan).select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L)) // same shape, new vocabulary
    val prov1 = graft.registry.DerivedArtifacts.provenance(
      reg, "curation__spec_artifact_dedup__s0__minhash_shingles").get
    assert(prov0._1 != prov1._1, "source token must change when the input is rewritten")
  }

  test("artifacts without a registry is refused at validation") {
    val dataDir = java.nio.file.Files.createTempDirectory("r17_art4_data").toString
    writeCorpus(dataDir)
    val sub = new CurationSubmitter(spark, dataDir)
    val e = intercept[IllegalArgumentException](sub.submit(CurationJson.parse(planDoc)))
    assert(e.getMessage.contains("registry-configured"))
  }

  test("data_card stage delegates to DataCard and the JSON round-trips") {
    val dataDir = java.nio.file.Files.createTempDirectory("r17_card_data").toString
    Seq(
      (1L, "s1", "alpha beta gamma", "en"),
      (2L, "s1", "alpha beta gamma", "en"), // verbatim dup of doc 1's text
      (3L, "s1", "delta epsilon", "de"),
      (4L, "s2", "zeta", "en"))
      .toDF("doc_id", "source", "text", "lang")
      .coalesce(1).write.mode("overwrite").parquet(s"$dataDir/docs.parquet")
    val doc = """{
      "name": "spec_card",
      "input": "docs",
      "stages": [
        {"stage_type": "data_card", "group_by": ["source"]},
        {"stage_type": "sort", "by": ["source"]}
      ]
    }"""
    val plan = CurationJson.parse(doc)
    // codec round-trip preserves the stage
    assert(CurationJson.parse(CurationJson.render(plan)) == plan)
    val out = new CurationSubmitter(spark, dataDir).submit(plan)
    assert(out.columns.toSeq == "source" +: CurationModels.DataCardColumns)
    val direct = graft.text.DataCard.dataCard(
      spark.read.parquet(s"$dataDir/docs.parquet"), "text", "lang", Seq("source"))
      .orderBy("source")
    assert(rows(out) == rows(direct))
    val s1 = out.filter(col("source") === "s1").collect().head
    assert(s1.getAs[Long]("n_docs") == 3L)
    assert(s1.getAs[Long]("exact_dup_ppm") == 333333L) // (3-2)*1e6 div 3
    assert(s1.getAs[String]("top_lang") == "en")
  }

  test("CheckpointFresh.withFlagCount: ONE job carries row count and flag count") {
    val df = viaParquet(Seq((1L, true), (2L, false), (3L, true), (4L, false), (5L, false))
      .toDF("id", "f"))
    var res: (org.apache.spark.sql.DataFrame, Long, Long) = null
    val jobs = countJobs {
      res = org.apache.spark.sql.graft.CheckpointFresh.withFlagCount(df, "f")
    }
    assert(jobs == 1L, s"materialization + both counts must be one job, saw $jobs")
    assert(res._2 == 5L && res._3 == 2L)
    assert(res._1.count() == 5L) // the returned frame reads the checkpointed blocks
    // non-boolean flag refused loudly
    val e = intercept[IllegalArgumentException](
      org.apache.spark.sql.graft.CheckpointFresh.withFlagCount(df, "id"))
    assert(e.getMessage.contains("boolean"))
  }

  test("minhash artifacts JSON round-trip keeps the artifacts flag") {
    val plan = CurationJson.parse(planDoc)
    val st = plan.stages.head.asInstanceOf[CurationModels.MinHashDedupStage]
    assert(st.artifacts)
    assert(CurationJson.parse(CurationJson.render(plan)) == plan)
  }
}
