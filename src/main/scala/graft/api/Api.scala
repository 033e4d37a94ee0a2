package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
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

  private var server: HttpServer = _
  private lazy val submitter = new Submitter(registry)

  private sealed trait JobState
  private case object Running extends JobState
  private final case class Done(resultJson: String, finishedAt: Long) extends JobState
  /** file-mode result: rows live in server-side parquet, never in memory */
  private final case class DoneFile(path: String, finishedAt: Long) extends JobState
  private final case class Failed(error: String, finishedAt: Long) extends JobState
  private val jobs = new java.util.concurrent.ConcurrentHashMap[String, JobState]()
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
    val finished = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def drop(id: String): Unit = {
      jobs.remove(id) match {
        case DoneFile(p, _) => HadoopFs.delete(registry.spark, new java.io.File(p).getParent)
        case _ =>
      }
    }
    jobs.forEach { (id, st) =>
      st match {
        case Done(_, at) => if (now - at > completedJobTtlMillis) drop(id) else finished += (id -> at)
        case DoneFile(_, at) => if (now - at > completedJobTtlMillis) drop(id) else finished += (id -> at)
        case Failed(_, at) => if (now - at > completedJobTtlMillis) drop(id) else finished += (id -> at)
        case Running =>
      }
    }
    if (finished.size > maxCompletedJobs)
      finished.sortBy(_._2).dropRight(maxCompletedJobs).foreach { case (id, _) => drop(id) }
  }

  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/registry/datasets", datasetsHandler())
    server.createContext("/registry/dimensions", listHandler(() => registry.listDimensions()))
    server.createContext("/dimensions/types", enumHandler("types", Api.DimensionTypes))
    server.createContext("/reports/types", enumHandler("types", Api.ReportTypes))
    server.createContext("/value_formats", enumHandler("formats", Api.ValueFormats))
    server.createContext("/registry/mappings", listHandler(() => registry.listMappings()))
    server.createContext("/projects", projectsHandler())
    server.createContext("/dimensions/records/", dimensionRecordsHandler())
    server.createContext("/query/project/async", asyncSubmitHandler())
    server.createContext("/query/project", queryHandler())
    server.createContext("/jobs/", jobStatusHandler())
    server.createContext("/viewer", viewerHandler())
    server.createContext("/curate", curateHandler())
    server.createContext("/registry/bulk", bulkRegisterHandler())
    server.createContext("/register", staticPageHandler(RegistrationPage.html))
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    pool.shutdownNow()
  }

  private def listHandler(items: () => Seq[String]): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      respond(ex, 200, items().map(quote).mkString("[", ",", "]"))
  }

  private def enumHandler(field: String, values: Seq[String]): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      respond(ex, 200, s"""{"$field": ${values.map(quote).mkString("[", ",", "]")}}""")
  }

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
  private def datasetsHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      try {
        val rest = ex.getRequestURI.getPath.stripPrefix("/registry/datasets")
          .stripPrefix("/").stripSuffix("/")
        if (rest.isEmpty)
          respond(ex, 200, registry.listDatasets().map(quote).mkString("[", ",", "]"))
        else if (rest.endsWith("/provenance")) {
          // derived-artifact lineage (DerivedArtifacts sidecar): which
          // source state + params produced this dataset — metadata-only;
          // a dataset without a sidecar (a user fact table) is the 404
          val id = rest.stripSuffix("/provenance")
          if (!registry.listDatasets().contains(id))
            respond(ex, 404, s"""{"error": ${quote(s"unknown dataset: $id")}}""")
          else {
            val p = s"${registry.root}/datasets/$id/provenance.json"
            if (!HadoopFs.exists(registry.spark, p))
              respond(ex, 404, s"""{"error": ${quote(s"dataset '$id' has no provenance sidecar")}}""")
            else respond(ex, 200, HadoopFs.readText(registry.spark, p))
          }
        }
        else if (rest.endsWith("/card")) {
          val id = rest.stripSuffix("/card")
          if (!registry.listDatasets().contains(id))
            respond(ex, 404, s"""{"error": ${quote(s"unknown dataset: $id")}}""")
          else {
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
            if (missing.nonEmpty)
              respond(ex, 400, s"""{"error": ${quote(
                s"dataset '$id' lacks column(s): ${missing.mkString(", ")}")}}""")
            else respond(ex, 200,
              s"""{"card": ${toJsonRows(
                graft.text.DataCard.dataCard(df, textCol, langCol, groupBy)
                  .orderBy(groupBy.head, groupBy.tail: _*))}}""")
          }
        }
        else if (!registry.listDatasets().contains(rest))
          respond(ex, 404, s"""{"error": ${quote(s"unknown dataset: $rest")}}""")
        else {
          val cols = registry.loadData(rest).columns
          val fmt = registry.datasetFormat(rest).map(_.valueFormat).getOrElse("stacked")
          val hasLookup = registry.lookup(rest).isDefined
          respond(ex, 200,
            s"""{"dataset": {"dataset_id": ${quote(rest)}, """ +
              s""""value_format": ${quote(fmt)}, "has_lookup": $hasLookup, """ +
              s""""columns": ${cols.map(quote).mkString("[", ",", "]")}}}""")
        }
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
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
  private def projectsHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      try {
        val path = ex.getRequestURI.getPath.stripSuffix("/")
        path match {
          case "/projects" =>
            respond(ex, 200,
              s"""{"projects": [{"project_id": ${quote(projectId)}}]}""")
          // detail payload (ref app.py:119-125 GetProject): the project's
          // datasets and dimensions — all registry listings, metadata-only
          case p if p == s"/projects/$projectId" =>
            respond(ex, 200,
              s"""{"project": {"project_id": ${quote(projectId)}, """ +
                s""""datasets": ${registry.listDatasets().map(quote).mkString("[", ",", "]")}, """ +
                s""""dimensions": ${registry.listDimensions().map(quote).mkString("[", ",", "]")}}}""")
          case p if p.startsWith("/projects/") && p.count(_ == '/') == 2 =>
            respond(ex, 404,
              s"""{"error": ${quote(s"unknown project: ${p.stripPrefix("/projects/")}")}}""")
          case p if p == s"/projects/$projectId/dimensions" =>
            val dims = registry.listDimensions().map { d =>
              s"""{"dimension_id": ${quote(d)}, "name": ${quote(d)}, """ +
                s""""category": ${quote(registry.dimensionCategory(d))}}"""
            }
            respond(ex, 200, s"""{"dimensions": ${dims.mkString("[", ",", "]")}}""")
          case _ =>
            respond(ex, 404, s"""{"error": ${quote(s"unknown project path: $path")}}""")
        }
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
      }
  }

  private def dimensionRecordsHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      try {
        val dim = ex.getRequestURI.getPath.stripPrefix("/dimensions/records/").stripSuffix("/")
        if (!registry.listDimensions().contains(dim))
          respond(ex, 404, s"""{"error": ${quote(s"unknown dimension: $dim")}}""")
        else respond(ex, 200, s"""{"records": ${toJsonRows(registry.dimensionRecords(dim))}}""")
      } catch {
        case e: Exception =>
          respond(ex, 500, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
      }
  }

  private def queryHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val df = submitter.submit(Json.parseProjectQuery(body))
        respond(ex, 200, toJsonRows(df))
      } catch {
        case e: Exception =>
          respond(ex, 400, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
      }
  }

  /** Admission gate: the pending-count check, id allocation, and the
    * Running insert happen under one lock, so concurrent submissions can
    * never exceed `maxPendingQueries`, and a job id is present in `jobs`
    * before it is ever observable by a client (no spurious 410 for a
    * just-admitted job). */
  private val admission = new Object

  private def asyncSubmitHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit = {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      // ?file=true: the result is written to server-side parquet and
      // fetched via /jobs/<id>/file — inline rows are never held, so big
      // results don't pin driver memory past the write (ref app.py:326-359)
      val asFile = Option(ex.getRequestURI.getQuery).exists(_.split("&").contains("file=true"))
      val admitted = admission.synchronized {
        evictFinished()
        var pending = 0
        jobs.forEach((_, st) => if (st == Running) pending += 1)
        if (pending >= maxPendingQueries) Left(pending)
        else {
          val id = s"job-${jobSeq.incrementAndGet()}"
          jobs.put(id, Running)
          Right(id)
        }
      }
      val id = admitted match {
        case Left(pending) =>
          respond(ex, 429, s"""{"error": "too many pending queries ($pending), retry later"}""")
          return
        case Right(id) => id
      }
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val df = submitter.submit(Json.parseProjectQuery(body))
            if (asFile) {
              // one parquet file per job under the spool: coalesce(1) is
              // fine here — a download endpoint is single-stream anyway
              val dir = s"$spoolDir/$id"
              df.coalesce(1).write.mode("overwrite").parquet(dir)
              val part = new java.io.File(dir).listFiles()
                .find(f => f.getName.endsWith(".parquet")).get
              jobs.put(id, DoneFile(part.getAbsolutePath, System.currentTimeMillis()))
            } else
              jobs.put(id, Done(toJsonRows(df), System.currentTimeMillis()))
          } catch { case e: Exception => jobs.put(id, Failed(String.valueOf(e.getMessage), System.currentTimeMillis())) }
      })
      respond(ex, 202, s"""{"job_id": ${quote(id)}}""")
    }
  }

  private def jobStatusHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit = {
      val rest = ex.getRequestURI.getPath.stripPrefix("/jobs/").stripSuffix("/")
      val (id, wantsFile) =
        if (rest.endsWith("/file")) (rest.stripSuffix("/file"), true) else (rest, false)
      jobs.get(id) match {
        case null =>
          // ids are monotonic `job-N`: a missing id at or below the current
          // sequence WAS issued and has been evicted (TTL/cap) — tell the
          // client "expired" (410), distinct from a never-existing id (404)
          val issued = id.stripPrefix("job-").toLongOption.exists(n => n > 0 && n <= jobSeq.get())
          if (issued) respond(ex, 410, s"""{"error": "job expired and was evicted"}""")
          else respond(ex, 404, s"""{"error": "unknown job"}""")
        case Running =>
          // a file request on a running job is the reference's 422 (data
          // can only be read for completed tasks, app.py:330-334)
          if (wantsFile) respond(ex, 422, """{"error": "job still running"}""")
          else respond(ex, 200, """{"status": "running"}""")
        case Done(rows, _) =>
          if (wantsFile) respond(ex, 422,
            """{"error": "job holds inline rows; submit with ?file=true for a download"}""")
          else respond(ex, 200, rows)
        case DoneFile(path, _) =>
          if (wantsFile) respondFile(ex, path)
          else respond(ex, 200,
            s"""{"status": "complete", "file": ${quote(s"/jobs/$id/file")}}""")
        case Failed(err, _) => respond(ex, 500, s"""{"error": ${quote(err)}}""")
      }
    }
  }

  /** Stream a completed job's parquet file — raw bytes, the reference's
    * FileResponse contract (app.py:352-359). */
  private def respondFile(ex: HttpExchange, path: String): Unit = {
    val f = new java.io.File(path)
    // Open the descriptor BEFORE any header write: TTL eviction runs on
    // every async submit and may delete this spool directory
    // mid-request — an open fd survives the unlink (POSIX), while a
    // path-based Files.copy would throw AFTER headers were sent,
    // truncating the download (r16 ADVICE item 3). Length comes from the
    // open channel for the same reason: File.length() is 0 post-unlink.
    val fis =
      try new java.io.FileInputStream(f)
      catch {
        case _: java.io.FileNotFoundException =>
          respond(ex, 410, """{"error": "result file was evicted"}""")
          return
      }
    try {
      val len = fis.getChannel.size()
      ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
      ex.getResponseHeaders.set("Content-Disposition",
        s"""attachment; filename="${f.getName}"""")
      ex.sendResponseHeaders(200, len)
      val os = ex.getResponseBody
      try fis.transferTo(os) finally os.close()
    } finally fis.close()
  }

  /** GET /viewer — the static single-page project viewer ([[ViewerPage]]),
    * closing the reference's Dash GUI surface headlessly: the page drives
    * the same three read endpoints the Dash app calls. */
  private def viewerHandler(): HttpHandler = staticPageHandler(ViewerPage.html)

  private def staticPageHandler(html: String): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit = {
      val bytes = html.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    }
  }

  /** POST /curate — run a curation-plan document over a data directory:
    * body {"data_dir": …, "plan": {…}, "cache_dir"?: …}. Validation
    * failures (bad plan, missing input/columns) are the client's 400;
    * execution failures are our 500 (the bulk-register convention). */
  private def curateHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit = {
      if (ex.getRequestMethod != "POST") {
        respond(ex, 405, """{"error": "POST required"}""")
        return
      }
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      try {
        val root = Json.mapper.readTree(body)
        val dataDir = Json.str(root, "data_dir")
        val planNode = Option(root.get("plan")).filterNot(_.isNull)
          .getOrElse(throw new IllegalArgumentException("missing required field: plan"))
        val cacheDir = Json.optStr(root, "cache_dir")
        val plan = graft.query.CurationJson.parse(planNode.toString)
        val sub = new graft.query.CurationSubmitter(registry.spark, dataDir, cacheDir)
        // "validate_only": true → the dry-run schema walk (per-stage
        // output columns), zero Spark jobs — the CLI --dry-run twin
        if (Option(root.get("validate_only")).exists(_.asBoolean(false))) {
          val stages = sub.explain(plan).zipWithIndex.map { case ((tpe, cols, persist), i) =>
            s"""{"index": $i, "stage_type": ${quote(tpe)}, "persist": $persist, """ +
              s""""columns": ${cols.map(quote).mkString("[", ",", "]")}}"""
          }
          respond(ex, 200,
            s"""{"name": ${quote(plan.name)}, "valid": true, """ +
              s""""stages": ${stages.mkString("[", ",", "]")}}""")
        } else
          respond(ex, 200, toJsonRows(sub.submit(plan)))
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
        case e: Exception =>
          respond(ex, 500, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
      }
    }
  }

  /** POST /registry/bulk — run a bulk-register manifest against this
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
  private def bulkRegisterHandler(): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit = {
      if (ex.getRequestMethod != "POST") {
        respond(ex, 405, """{"error": "POST required"}""")
        return
      }
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      try {
        val result = registration.synchronized {
          graft.registry.BulkRegister(registry, body)
        }
        respond(ex, 200,
          s"""{"registered": ${result.registered.map(quote).mkString("[", ",", "]")}, """ +
            s""""skipped": ${result.skipped.map(quote).mkString("[", ",", "]")}}""")
      } catch {
        // a bad manifest is the CLIENT's fault; registry I/O or Spark
        // failures are ours — don't report server bugs as 400s
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
        case e: Exception =>
          respond(ex, 500, s"""{"error": ${quote(String.valueOf(e.getMessage))}}""")
      }
    }
  }

  /** Rows via Spark's own JSON encoder (handles types/escaping), capped. */
  private def toJsonRows(df: DataFrame): String =
    df.limit(maxRows).toJSON.collect().mkString("[", ",", "]")

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
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
}
