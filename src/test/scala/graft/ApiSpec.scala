package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import graft.api.Api
import graft.core.Constants._
import graft.registry.Registry

class ApiSpec extends SparkSpec {
  import spark.implicits._

  private def buildRegistry(): Registry = {
    val reg = Registry(spark, Files.createTempDirectory("graft-api-reg").toString)
    Registry.registerDimension(reg, "geography", Seq(("c1", "C1"), ("c2", "C2")).toDF("id", "name"))
    Registry.registerMapping(reg, "identity",
      Seq(("c1", "c1", 1.0), ("c2", "c2", 1.0)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn))
    Registry.registerDataset(reg, "ds",
      Seq(("c1", 1.0), ("c2", 2.0), ("c1", 3.0)).toDF("geography", ValueColumn))
    reg
  }

  test("registry listing and project query over HTTP") {
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): String =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()

      assert(get("/registry/datasets") == """["ds"]""")
      assert(get("/registry/dimensions") == """["geography"]""")

      val queryDoc = """{
        "name": "api_q",
        "datasets": {"datasets": [{"dataset_id": "ds"}]},
        "result": {"aggregations": [{"group_by": ["geography"]}], "sort_by": ["geography"]}
      }"""
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query/project"))
          .POST(HttpRequest.BodyPublishers.ofString(queryDoc)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body() == """[{"geography":"c1","value":4.0},{"geography":"c2","value":2.0}]""")

      // async submit → poll until done
      val submitted = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query/project/async"))
          .POST(HttpRequest.BodyPublishers.ofString(queryDoc)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(submitted.statusCode() == 202)
      val jobId = submitted.body().split("\"")(3)
      var polls = 0
      var result = ""
      while (result.isEmpty && polls < 100) {
        val st = get(s"/jobs/$jobId")
        if (!st.contains("running")) result = st else { Thread.sleep(200); polls += 1 }
      }
      assert(result == """[{"geography":"c1","value":4.0},{"geography":"c2","value":2.0}]""")
      assert(get("/jobs/nope").contains("unknown job"))

      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query/project"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"nope": 1}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("error"))
    } finally api.stop()
  }

  test("detail and enum GET routes (r15 items: datasets/<id>, projects/<id>, types, formats)") {
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): (Int, String) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // enum routes mirror the reference's _list_enums payloads
      assert(get("/dimensions/types") == (200,
        """{"types": ["geography","metric","model_year","scenario","sector","subsector","time","weather_year"]}"""))
      assert(get("/reports/types") == (200, """{"types": ["peak_load"]}"""))
      assert(get("/value_formats") == (200, """{"formats": ["pivoted","stacked"]}"""))
      // dataset detail: metadata-only payload; 404 for unknown ids
      val (dc, dbody) = get("/registry/datasets/ds")
      assert(dc == 200)
      assert(dbody.contains(""""dataset_id": "ds""""))
      assert(dbody.contains(""""value_format": "stacked""""))
      assert(dbody.contains(""""has_lookup": false"""))
      assert(dbody.contains(""""geography"""") && dbody.contains(""""value""""))
      assert(get("/registry/datasets/nope")._1 == 404)
      // the bare list route still serves the list
      assert(get("/registry/datasets") == (200, """["ds"]"""))
      // project detail + 404 for a wrong project id
      val projId = get("/projects")._2.split("\"")(5)
      val (pc, pbody) = get(s"/projects/$projId")
      assert(pc == 200 && pbody.contains(""""datasets": ["ds"]""") &&
        pbody.contains(""""dimensions": ["geography"]"""))
      assert(get("/projects/not_the_project")._1 == 404)
    } finally api.stop()
  }

  test("async ?file=true spools parquet; /jobs/<id>/file streams it (r15 item: file download)") {
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      val queryDoc = """{
        "name": "api_qf",
        "datasets": {"datasets": [{"dataset_id": "ds"}]},
        "result": {"aggregations": [{"group_by": ["geography"]}], "sort_by": ["geography"]}
      }"""
      val submitted = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/query/project/async?file=true"))
          .POST(HttpRequest.BodyPublishers.ofString(queryDoc)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(submitted.statusCode() == 202)
      val jobId = submitted.body().split("\"")(3)
      def status() = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/jobs/$jobId")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      var polls = 0
      while (status().body().contains("running") && polls < 100) { Thread.sleep(200); polls += 1 }
      // status points at the file route; inline rows are NOT in the payload
      val st = status()
      assert(st.statusCode() == 200 && st.body().contains(s"/jobs/$jobId/file"))
      assert(!st.body().contains("geography"))
      // the download is a real parquet file: fetch, write, read back
      val dl = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/jobs/$jobId/file")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(dl.statusCode() == 200)
      val tmp = Files.createTempFile("graft-api-dl", ".parquet")
      Files.write(tmp, dl.body())
      val back = spark.read.parquet(tmp.toString)
      assert(back.orderBy("geography").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("c1", 4.0), ("c2", 2.0)))
      // an INLINE job refuses the file route with 422 (the reference's
      // completed-tasks-only contract class)
      val inline = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query/project/async"))
          .POST(HttpRequest.BodyPublishers.ofString(queryDoc)).build(),
        HttpResponse.BodyHandlers.ofString())
      val inlineId = inline.body().split("\"")(3)
      var p2 = 0
      def st2() = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/jobs/$inlineId")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      while (st2().body().contains("running") && p2 < 100) { Thread.sleep(200); p2 += 1 }
      val refuse = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/jobs/$inlineId/file")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(refuse.statusCode() == 422)
    } finally api.stop()
  }

  test("project-viewer read endpoints serve the exact envelopes the Dash app parses") {
    // the three calls in the reference viewer (apps/project_viewer/app.py:193-204):
    //   projects → ListProjectsResponse {"projects":[{"project_id":…}]}
    //   projects/<id>/dimensions → {"dimensions": […]}
    //   dimensions/records/<id> → {"records": […]}
    val reg = buildRegistry()
    val api = new Api(reg)
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())

      val projectId = new org.apache.hadoop.fs.Path(reg.root).getName
      val projects = get("/projects")
      assert(projects.statusCode() == 200)
      assert(projects.body() == s"""{"projects": [{"project_id": "$projectId"}]}""")

      val dims = get(s"/projects/$projectId/dimensions")
      assert(dims.statusCode() == 200)
      assert(dims.body() ==
        s"""{"dimensions": [{"dimension_id": "geography", "name": "geography", "category": "base"}]}""")

      val records = get("/dimensions/records/geography")
      assert(records.statusCode() == 200)
      // row order within the records parquet is not contractual — pin the
      // envelope and the full row set
      assert(records.body().startsWith("""{"records": ["""))
      assert(records.body().contains("""{"id":"c1","name":"C1"}"""))
      assert(records.body().contains("""{"id":"c2","name":"C2"}"""))

      // trailing slashes are DELIBERATELY accepted (stripSuffix in the
      // handlers) — a viewer config with a trailing-slash base URL works
      assert(get("/projects/").statusCode() == 200)
      assert(get(s"/projects/$projectId/dimensions/").statusCode() == 200)
      assert(get("/dimensions/records/geography/").statusCode() == 200)

      // unknown ids are clean JSON 404s, not dropped connections
      val badProject = get("/projects/nope/dimensions")
      assert(badProject.statusCode() == 404)
      assert(badProject.body().contains("error"))
      val badDim = get("/dimensions/records/nope")
      assert(badDim.statusCode() == 404)
      assert(badDim.body().contains("unknown dimension"))

      // the static viewer page serves from the same server and drives
      // exactly those three endpoints (no external assets, no build step)
      val viewer = get("/viewer")
      assert(viewer.statusCode() == 200)
      assert(viewer.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      assert(viewer.body().contains("/projects"))
      assert(viewer.body().contains("/dimensions/records/"))
      assert(viewer.body().contains("\"/projects/\" + encodeURIComponent(projectId) + \"/dimensions\""))
    } finally api.stop()
  }

  test("async submission burst is bounded and evicted jobs answer 410, not 404") {
    val queryDoc = """{
      "name": "api_q2",
      "datasets": {"datasets": [{"dataset_id": "ds"}]},
      "result": {"aggregations": [{"group_by": ["geography"]}]}
    }"""
    val client = HttpClient.newHttpClient()
    def post(port: Int): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query/project/async"))
        .POST(HttpRequest.BodyPublishers.ofString(queryDoc)).build(),
      HttpResponse.BodyHandlers.ofString())
    def get(port: Int, path: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

    // zero capacity: every submission is rejected, deterministically —
    // no race against job completion
    val full = new Api(buildRegistry(), maxPendingQueries = 0)
    val fullPort = full.start()
    try {
      val r = post(fullPort)
      assert(r.statusCode() == 429, s"got ${r.statusCode()}: ${r.body()}")
      assert(r.body().contains("pending"))
    } finally full.stop()

    // ttl 0: a finished job is evicted by the next submission's sweep and
    // answers 410 (was issued), unlike never-issued ids (404)
    val api = new Api(buildRegistry(), completedJobTtlMillis = 0L)
    val port = api.start()
    try {
      val first = post(port)
      assert(first.statusCode() == 202)
      val jobId = first.body().split("\"")(3)
      var polls = 0
      while (get(port, s"/jobs/$jobId").body().contains("running") && polls < 100) {
        Thread.sleep(200); polls += 1
      }
      post(port) // any new submission runs evictFinished() with ttl 0
      val expired = get(port, s"/jobs/$jobId")
      assert(expired.statusCode() == 410, s"got ${expired.statusCode()}: ${expired.body()}")
      assert(expired.body().contains("expired"))
      assert(get(port, "/jobs/job-999999").statusCode() == 404)
      assert(get(port, "/jobs/not-a-job").statusCode() == 404)
    } finally api.stop()
  }

  test("registration surface: POST /registry/bulk registers, GET /register serves the page") {
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def post(path: String, body: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())

      // a records table on disk, referenced by the manifest (server-side path)
      val recDir = Files.createTempDirectory("graft-api-recs").toString
      Seq(("s1", "S1"), ("s2", "S2")).toDF("id", "name")
        .coalesce(1).write.mode("overwrite").parquet(s"$recDir/sector.parquet")
      val manifest =
        s"""{"dimensions": [{"name": "sector", "records": "$recDir/sector.parquet"}]}"""
      val ok = post("/registry/bulk", manifest)
      assert(ok.statusCode() == 200, s"got ${ok.statusCode()}: ${ok.body()}")
      assert(ok.body().contains(""""registered": ["dimension/sector"]"""), ok.body())
      // the read surface reflects the mutation immediately
      assert(get("/registry/dimensions").body() == """["geography","sector"]""")
      assert(get("/dimensions/records/sector").body().contains("\"s1\""))

      // re-posting the same manifest is an UPDATE (compatibility-checked
      // upsert — the registerDimension semantics), not an error
      val dup = post("/registry/bulk", manifest)
      assert(dup.statusCode() == 200, s"got ${dup.statusCode()}: ${dup.body()}")
      assert(dup.body().contains(""""registered": ["dimension/sector"]"""), dup.body())
      // malformed manifest: named 400, not a stack trace
      val bad = post("/registry/bulk", """{"dimensions": [{"records": "x"}]}""")
      assert(bad.statusCode() == 400 && bad.body().contains("name"), bad.body())

      val page = get("/register")
      assert(page.statusCode() == 200)
      assert(page.body().contains("graft registration") &&
        page.body().contains("/registry/bulk"))
      // the page escapes interpolated data (the ViewerPage XSS rule)
      assert(page.body().contains("const esc"))
    } finally api.stop()
  }

  test("POST /curate validate_only returns the dry-run schema walk") {
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      val dataDir = Files.createTempDirectory("graft-api-curate-dry").toString
      Seq((1L, "the quick brown fox and the lazy dog", "web"))
        .toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("overwrite").parquet(s"$dataDir/docs.parquet")
      val body = s"""{
        "data_dir": "$dataDir", "validate_only": true,
        "plan": {"name": "dry", "input": "docs", "stages": [
          {"stage_type": "text_features", "features": ["token_count"]},
          {"stage_type": "sort", "by": ["doc_id"]}]}}"""
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/curate"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains(""""valid": true"""))
      assert(resp.body().contains(""""stage_type": "text_features""""))
      assert(resp.body().contains(""""n_tokens""""))
      // an invalid plan is still the client's 400 through the same route
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/curate"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"data_dir": "$dataDir", "validate_only": true,
                 "plan": {"name": "b", "input": "docs",
                          "stages": [{"stage_type": "sort", "by": ["ghost"]}]}}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
    } finally api.stop()
  }

  test("POST /curate runs a curation plan over a data directory") {
    val dataDir = Files.createTempDirectory("graft-api-curate").toString
    Seq(
      (1L, "the quick brown fox and the lazy dog", "web"),
      (2L, "the quick brown fox and the lazy dog", "web"), // exact dup
      (3L, "el zorro marron y el perro", "web"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dataDir/docs.parquet")
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/curate"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val doc = s"""{
        "data_dir": ${"\"" + dataDir + "\""},
        "plan": {
          "name": "api_curate", "input": "docs",
          "stages": [
            {"stage_type": "exact_dedup"},
            {"stage_type": "aggregate", "group_by": ["source"],
             "aggregations": [{"fn": "count", "column": "doc_id", "alias": "n_docs"}]}
          ]
        }
      }"""
      val resp = post(doc)
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body() == """[{"source":"web","n_docs":2}]""")
      // a bad plan is the client's 400, with the validation message
      val bad = post(s"""{"data_dir": ${"\"" + dataDir + "\""},
        "plan": {"name": "b", "input": "docs",
                 "stages": [{"stage_type": "sort", "by": ["ghost"]}]}}""")
      assert(bad.statusCode() == 400 && bad.body().contains("does not exist"))
      // missing envelope fields are 400 too
      assert(post("""{"plan": {"name": "x", "input": "docs", "stages": []}}""")
        .statusCode() == 400)
      // GET is rejected like the other mutation endpoint
      val get = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/curate")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    } finally api.stop()
  }

  test("GET /registry/datasets/<id>/card serves the corpus data card (r16 item 6)") {
    val reg = Registry(spark, Files.createTempDirectory("graft-api-card").toString)
    Registry.registerDataset(reg, "corpus",
      Seq(
        (1L, "s1", "alpha beta gamma", "en"),
        (2L, "s1", "alpha beta gamma", "en"), // verbatim dup
        (3L, "s1", "delta epsilon", "de"),
        (4L, "s2", "zeta", "en"))
        .toDF("doc_id", "source", "text", "lang"),
      validate = false)
    val api = new Api(reg)
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val card = get("/registry/datasets/corpus/card?group_by=source")
      assert(card.statusCode() == 200, card.body())
      assert(card.body().startsWith("""{"card": ["""))
      // the s1 cell: 3 docs, one verbatim dup → 333333 ppm, top lang en
      assert(card.body().contains(""""source":"s1""""))
      assert(card.body().contains(""""exact_dup_ppm":333333"""))
      assert(card.body().contains(""""top_lang":"en""""))
      // unknown dataset → 404; missing column → client's 400
      assert(get("/registry/datasets/ghost/card").statusCode() == 404)
      val bad = get("/registry/datasets/corpus/card?group_by=nope")
      assert(bad.statusCode() == 400 && bad.body().contains("nope"))

      // provenance route: a user fact table has no sidecar (404); a
      // derived artifact serves its (source, tokens) lineage
      assert(get("/registry/datasets/corpus/provenance").statusCode() == 404)
      graft.registry.DerivedArtifacts.resolveWithToken(
        reg, "corpus__derived", "spec:corpus", "tok0", "params0")(
        Seq((1L, 2L)).toDF("a", "b"))
      val prov = get("/registry/datasets/corpus__derived/provenance")
      assert(prov.statusCode() == 200, prov.body())
      assert(prov.body().contains("\"source_token\" : \"tok0\"") ||
        prov.body().contains("\"source_token\": \"tok0\"") ||
        prov.body().contains("\"source_token\":\"tok0\""))
      assert(get("/registry/datasets/nope/provenance").statusCode() == 404)
    } finally api.stop()
  }

  test("unknown project path: the 404 body stays valid JSON when the path decodes a quote") {
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      val projId = get("/projects").body().split("\"")(5)
      val r = get(s"/projects/$projId/a%22b/c")
      assert(r.statusCode() == 404)
      assert(graft.query.Json.mapper.readTree(r.body()).get("error").asText() ==
        s"unknown project path: /projects/$projId/a\"b/c")
    } finally api.stop()
  }
}
