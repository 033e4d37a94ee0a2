package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.api.Api
import graft.core.Constants._
import graft.registry.Registry

/** The API's shared route behaviour: a Submitter per request (no metadata
  * kept across registrations), the session pin on server threads, the
  * 400/500 status convention and the exact wire bodies. */
class ApiRouteSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] = client.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
    HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] = client.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
    HttpResponse.BodyHandlers.ofString())

  private def buildRegistry(): Registry = {
    val reg = Registry(spark, Files.createTempDirectory("graft-api-route-reg").toString)
    Registry.registerDimension(reg, "geography", Seq(("c1", "C1"), ("c2", "C2")).toDF("id", "name"))
    Registry.registerMapping(reg, "identity",
      Seq(("c1", "c1", 1.0), ("c2", "c2", 1.0)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn))
    Registry.registerDataset(reg, "ds",
      Seq(("c1", 1.0), ("c2", 2.0), ("c1", 3.0)).toDF("geography", ValueColumn))
    reg
  }

  private val queryDoc = """{
    "name": "route_q",
    "datasets": {"datasets": [{"dataset_id": "ds"}]},
    "result": {"aggregations": [{"group_by": ["geography"]}], "sort_by": ["geography"]}
  }"""

  private def awaitJob(port: Int, id: String): HttpResponse[String] = {
    var r = get(port, s"/jobs/$id")
    var polls = 0
    while (r.body() == """{"status": "running"}""" && polls < 150) {
      Thread.sleep(200); polls += 1; r = get(port, s"/jobs/$id")
    }
    r
  }

  test("a mapping re-registered through /registry/bulk is applied by the next query") {
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val mapped = """{
        "name": "remap_q",
        "datasets": {"datasets": [{"dataset_id": "ds",
          "mappings": [{"dimension": "geography", "mapping_name": "identity"}]}]},
        "result": {"aggregations": [{"group_by": ["geography"]}], "sort_by": ["geography"]}
      }"""
      val before = post(port, "/query/project", mapped)
      assert(before.body() == """[{"geography":"c1","value":4.0},{"geography":"c2","value":2.0}]""")
      // the same mapping name now aggregates both counties into one region
      val dir = Files.createTempDirectory("graft-api-remap").toString
      Seq(("c1", "r1", 1.0), ("c2", "r1", 1.0)).toDF(FromIdColumn, ToIdColumn, FromFractionColumn)
        .coalesce(1).write.parquet(s"$dir/identity.parquet")
      val reg = post(port, "/registry/bulk",
        s"""{"mappings": [{"name": "identity", "table": "$dir/identity.parquet"}]}""")
      assert(reg.statusCode() == 200, reg.body())
      val after = post(port, "/query/project", mapped)
      assert(after.statusCode() == 200, after.body())
      assert(after.body() == """[{"geography":"r1","value":6.0}]""")
    } finally api.stop()
  }

  test("a server started on a thread without an active session runs an async file job") {
    val reg = buildRegistry()
    var api: Api = null
    var port = 0
    val starter = new Thread(() => {
      SparkSession.clearActiveSession()
      api = new Api(reg)
      port = api.start()
    })
    starter.start()
    starter.join()
    try {
      val submitted = post(port, "/query/project/async?file=true", queryDoc)
      assert(submitted.statusCode() == 202, submitted.body())
      val id = submitted.body().split("\"")(3)
      val st = awaitJob(port, id)
      assert(st.statusCode() == 200 &&
        st.body() == s"""{"status": "complete", "file": "/jobs/$id/file"}""", st.body())
      val dl = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/jobs/$id/file")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(dl.statusCode() == 200)
      val tmp = Files.createTempFile("graft-api-route-dl", ".parquet")
      Files.write(tmp, dl.body())
      assert(spark.read.parquet(tmp.toString).orderBy("geography")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("c1", 4.0), ("c2", 2.0)))
    } finally api.stop()
  }

  test("client input is a 400, a server fault a 500") {
    val reg = buildRegistry()
    val dataDir = Files.createTempDirectory("graft-api-route-curate").toString
    Seq((1L, "the quick brown fox", "web")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dataDir/docs.parquet")
    val api = new Api(reg)
    val port = api.start()
    try {
      // SQL that does not analyze is the plan author's fault
      val badSql = post(port, "/curate", s"""{"data_dir": "$dataDir",
        "plan": {"name": "b", "input": "docs", "stages": [{"stage_type": "filter",
          "filters": [{"filter_type": "raw", "expression": "ghost_col > 1"}]}]}}""")
      assert(badSql.statusCode() == 400, badSql.body())
      assert(badSql.body().contains("ghost_col"))
      // so is a body that is not JSON, on every POST route
      for (path <- Seq("/curate", "/registry/bulk", "/query/project"))
        assert(post(port, path, "{not json").statusCode() == 400, path)
      // and a query document without its datasets section
      val noDatasets = post(port, "/query/project", """{"name": "x"}""")
      assert(noDatasets.statusCode() == 400 && noDatasets.body().contains("datasets"), noDatasets.body())
      // a registry table that cannot be read is the server's fault
      val loadData = new java.io.File(s"${reg.root}/datasets/ds/load_data.parquet")
      val files = if (loadData.isDirectory) loadData.listFiles().filter(_.getName.endsWith(".parquet"))
        else Array(loadData)
      files.foreach(f => Files.write(f.toPath, "not parquet".getBytes("UTF-8")))
      val broken = post(port, "/query/project", queryDoc)
      assert(broken.statusCode() == 500, broken.body())
      assert(graft.query.Json.mapper.readTree(broken.body()).has("error"))
    } finally api.stop()
  }

  test("an analysis error body names the column but not the analyzed plan") {
    val dataDir = Files.createTempDirectory("graft-api-route-plan").toString
    Seq((1L, "the quick brown fox", "web")).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$dataDir/docs.parquet")
    val api = new Api(buildRegistry())
    val port = api.start()
    try {
      val badSql = post(port, "/curate", s"""{"data_dir": "$dataDir",
        "plan": {"name": "b", "input": "docs", "stages": [{"stage_type": "filter",
          "filters": [{"filter_type": "raw", "expression": "ghost_col > 1"}]}]}}""")
      assert(badSql.statusCode() == 400, badSql.body())
      assert(badSql.body().contains("ghost_col"), badSql.body())
      assert(!badSql.body().contains("Relation ["), badSql.body())
      assert("#\\d+".r.findFirstIn(badSql.body()).isEmpty, badSql.body())
    } finally api.stop()
  }

  test("wire bodies: object spacing, compact arrays, error envelopes") {
    val reg = buildRegistry()
    val projectId = new org.apache.hadoop.fs.Path(reg.root).getName
    val api = new Api(reg)
    val port = api.start()
    try {
      def exact(r: HttpResponse[String], status: Int, body: String): Unit = {
        assert(r.statusCode() == status, r.body())
        assert(r.body() == body)
        assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
      }
      exact(get(port, "/registry/datasets/ds"), 200,
        """{"dataset": {"dataset_id": "ds", "value_format": "stacked", "has_lookup": false, """ +
          """"columns": ["geography","value"]}}""")
      exact(get(port, "/registry/datasets/nope"), 404, """{"error": "unknown dataset: nope"}""")
      exact(get(port, "/registry/datasets/ds/provenance"), 404,
        """{"error": "dataset 'ds' has no provenance sidecar"}""")
      exact(get(port, "/registry/mappings"), 200, """["identity"]""")
      exact(get(port, s"/projects/$projectId"), 200,
        s"""{"project": {"project_id": "$projectId", "datasets": ["ds"], "dimensions": ["geography"]}}""")
      exact(get(port, "/projects/nope"), 404, """{"error": "unknown project: nope"}""")
      exact(get(port, "/dimensions/records/nope"), 404, """{"error": "unknown dimension: nope"}""")
      exact(get(port, "/curate"), 405, """{"error": "POST required"}""")
      exact(get(port, "/registry/bulk"), 405, """{"error": "POST required"}""")
      exact(get(port, "/jobs/job-0"), 404, """{"error": "unknown job"}""")
      val submitted = post(port, "/query/project/async", queryDoc)
      assert(submitted.statusCode() == 202)
      val id = submitted.body().split("\"")(3)
      assert(submitted.body() == s"""{"job_id": "$id"}""")
      exact(awaitJob(port, id), 200, """[{"geography":"c1","value":4.0},{"geography":"c2","value":2.0}]""")
      exact(get(port, s"/jobs/$id/file"), 422,
        """{"error": "job holds inline rows; submit with ?file=true for a download"}""")
      val failed = post(port, "/query/project/async", """{"nope": 1}""")
      val failedId = failed.body().split("\"")(3)
      exact(awaitJob(port, failedId), 400, """{"error": "requirement failed: missing required field: name"}""")
      val dataDir = Files.createTempDirectory("graft-api-route-dry").toString
      Seq((1L, "a b c", "web")).toDF("doc_id", "text", "source")
        .coalesce(1).write.parquet(s"$dataDir/docs.parquet")
      exact(post(port, "/curate", s"""{"data_dir": "$dataDir", "validate_only": true,
          "plan": {"name": "dry", "input": "docs", "stages": [{"stage_type": "sort", "by": ["doc_id"]}]}}"""),
        200, """{"name": "dry", "valid": true, "stages": [{"index": 0, "stage_type": "sort", """ +
          """"persist": false, "columns": ["doc_id","source","text"]}]}""")
    } finally api.stop()

    val full = new Api(reg, maxPendingQueries = 0)
    val fullPort = full.start()
    try {
      val r = post(fullPort, "/query/project/async", queryDoc)
      assert(r.statusCode() == 429 && r.body() == """{"error": "too many pending queries (0), retry later"}""")
    } finally full.stop()
  }
}
