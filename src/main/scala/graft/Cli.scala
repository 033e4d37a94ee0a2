package graft

import graft.core.GraftSession
import graft.query.{Json, Submitter}
import graft.registry.Registry
import graft.sources.HadoopFs

/** Command-line entry point mirroring the reference's CLI surface
  * (ref: dsgrid/cli/query.py — `dsgrid query project run`, registry
  * listing):
  *
  * {{{
  * graft.Cli config create <config.json> <registryRoot>
  * graft.Cli query project <registryRoot> <query.json> <outDir> [--csv] [--cache <dir>]
  * graft.Cli query dataset <registryRoot> <query.json> <outDir> [--csv] [--cache <dir>]
  * graft.Cli registry list <registryRoot>
  * graft.Cli registry versions <registryRoot>
  * graft.Cli registry register-dimension <registryRoot> <name> <records-path> [--category base|subset|supplemental]
  * graft.Cli registry register-mapping <registryRoot> <name> <table-path> [--type <mappingType>] [--from-dimension <d>] [--to-dimension <d>] [--no-validate]
  * graft.Cli registry register-dataset <registryRoot> <datasetId> <load-data-path> [--lookup <path>] [--dim <name>=<records-path>]... [--no-validate]
  * graft.Cli registry register-bulk <registryRoot> <manifest.json> [--journal <path>] [--data-base-dir <dir>]
  * graft.Cli registry remove-dimension <registryRoot> <name>
  * graft.Cli registry remove-mapping <registryRoot> <name>
  * graft.Cli registry remove-dataset <registryRoot> <datasetId>
  * graft.Cli registry dump-dimension <registryRoot> <name> <out-path[.csv]>
  * graft.Cli registry new-version <registryRoot> <fromVersion> <toVersion>
  * graft.Cli registry delete-version <registryRoot> <version>
  * graft.Cli registry check <registryRoot>
  * graft.Cli registry filter <srcRoot> <destRoot> [--datasets a,b] [--dimensions x,y] [--mappings m,n]
  * graft.Cli registry auto-update-dimension <registryRoot> <name> <records-path> [--category c]
  * graft.Cli registry generate-dataset-config <registryRoot> <datasetId> <data-path> <out-dir> [--time-cols a,b] [--register]
  * graft.Cli registry generate-project-query <registryRoot> <name> <ds1,ds2,...> <out.json>
  * graft.Cli query composite-create <registryRoot> <query.json> <id> [--cache <dir>]
  * graft.Cli query composite-run <registryRoot> <id> <query.json> <outDir> [--csv] [--cache <dir>]
  * graft.Cli query register-derived <registryRoot> <query.json> <id> [--cache <dir>]
  * graft.Cli curate <dataDir> <plan.json> <outDir> [--csv] [--cache <dir>] [--dry-run] [--register <registryRoot>]
  * graft.Cli serve <registryRoot> [port]
  * }}}
  *
  * The registration verbs delegate to the validated `Registry.*` APIs
  * (ref: dsgrid/cli/registry.py register_dimensions / register_dimension_
  * mappings / register_dataset; dsgrid_admin bump): a user can stand up a
  * registry from data files without writing Scala, and a validation
  * failure (bad mapping archetype, unresolvable ids, incompatible
  * dimension update) exits nonzero with the violation on stderr. Data
  * paths read as parquet, or as header+inferSchema CSV for `.csv`.
  *
  * `registry versions` lists `v<semver>` subtrees (latest last); pass
  * `<registryRoot>/<version>` to the query commands to pin one.
  *
  * Query documents are the JSON(5-tolerant) form `query.Json` accepts; the
  * result lands as parquet (auto-partitioned) or single-file CSV with the
  * query document copied beside it, like the reference's sidecar. */
object Cli {

  /** Registration inputs: parquet by default, CSV by extension (the shared
    * reader — bulk manifests read through the same code path). */
  private def readTable(spark: org.apache.spark.sql.SparkSession, path: String) =
    Registry.readRegistrationTable(spark, path)

  private def flagValue(rest: List[String], flag: String): Option[String] =
    rest.dropWhile(_ != flag).drop(1).headOption

  private def readFile(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  /** Validation errors become exit 1 + message, not a stack trace.
    * Returns the exit code so `run` (and specs) can observe it. */
  private def validated(f: => Unit): Int =
    try { f; 0 }
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        1
      // file-system failures (unwritable config path, bad directory) get
      // the same clean exit-1 + message, never a stack trace
      case e: java.io.IOException =>
        System.err.println(e.toString)
        1
    }

  def main(args: Array[String]): Unit = {
    val rc = run(args)
    if (rc != 0) sys.exit(rc)
  }

  /** Stored CLI defaults (ref: dsgrid/cli/config.py `dsgrid config create`
    * — registry connection settings persisted once, reused by every later
    * command). graft's analogue: a JSON file holding the registry root;
    * any verb accepts `@<path>` in place of `<registryRoot>` and resolves
    * it from the file. No home-directory magic — the path is explicit, so
    * tests and multi-registry users stay isolated. */
  private def resolveRoot(root: String): String =
    if (root.startsWith("@")) {
      val node = Json.mapper.readTree(readFile(root.drop(1)))
      val v = node.get("registry_root")
      if (v == null || !v.isTextual)
        throw new IllegalArgumentException(
          s"config file ${root.drop(1)} has no string 'registry_root'")
      v.asText()
    } else root

  /** The whole CLI as a function returning its exit code — testable
    * without killing the JVM. Any `@<path>` argument is replaced by the
    * `registry_root` stored in that config file before dispatch (the `@`
    * sigil has no other meaning in this CLI, so global substitution is
    * unambiguous). */
  def run(args: Array[String]): Int = {
    val resolved =
      try args.toList.map(a => if (a.startsWith("@")) resolveRoot(a) else a)
      catch {
        case e: Exception =>
          System.err.println(e.getMessage)
          return 1
      }
    dispatch(resolved)
  }

  private def dispatch(args: List[String]): Int = args match {
    case "config" :: "create" :: path :: registryRoot :: Nil =>
      val rc = validated {
        val p = java.nio.file.Paths.get(path)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        val node = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance.objectNode()
        node.put("registry_root", registryRoot)
        java.nio.file.Files.writeString(p, node.toPrettyString + "\n")
      }
      if (rc == 0) println(s"wrote $path")
      rc

    // Curation pipeline from a JSON plan document (the declarative surface
    // over the LLM-data operators — mirrors `query project run` exactly:
    // parse, submit with an optional cache, write result + sidecar)
    case "curate" :: dataDir :: planFile :: outDir :: rest =>
      val spark = GraftSession.get()
      val rc = validated {
        val planText = readFile(planFile)
        val plan = graft.query.CurationJson.parse(planText)
        val sub = new graft.query.CurationSubmitter(spark, dataDir, flagValue(rest, "--cache"))
        if (rest.contains("--dry-run")) {
          // schema walk only: print the per-stage output schema, run nothing
          sub.explain(plan).zipWithIndex.foreach { case ((tpe, cols, persist), i) =>
            val p = if (persist) " [persist]" else ""
            println(s"stage $i $tpe$p -> ${cols.mkString(", ")}")
          }
          println(s"plan '${plan.name}' valid (${plan.stages.size} stages, dry run)")
        } else if (rest.contains("--register")) {
          // register the curated result as a dataset in a registry (plan
          // document stamped as provenance); <outDir> is the dataset id
          val root = flagValue(rest, "--register").getOrElse(
            throw new IllegalArgumentException("curate --register needs a registry root"))
          val reg = graft.registry.Registry(spark, root)
          sub.submitAndRegister(reg, outDir, plan)
          println(s"registered dataset '$outDir' in $root")
        } else {
          val result = sub.submit(plan)
          if (rest.contains("--csv"))
            graft.sources.Writers.csv(result, s"$outDir/${plan.name}.csv", singleFile = true)
          else
            graft.sources.Writers.parquetAutoPartition(spark, result, s"$outDir/${plan.name}.parquet")
          HadoopFs.writeText(spark, s"$outDir/plan.json", planText)
          println(s"wrote $outDir/${plan.name}")
        }
      }
      rc

    // HTTP API over a registry (ref: dsgrid/api — FastAPI app over the
    // registry + query submitter). Blocks until the process is killed.
    case "serve" :: registryRoot :: rest =>
      val port = rest.headOption match {
        case None => 8537
        case Some(p) =>
          p.toIntOption match {
            case Some(n) if n >= 0 && n <= 65535 => n
            case _ =>
              System.err.println(s"serve: port must be an integer in [0, 65535], got '$p'")
              System.err.println("usage: graft.Cli serve <registryRoot> [port]")
              return 1
          }
      }
      val spark = GraftSession.get()
      val reg = Registry(spark, registryRoot)
      val api = new graft.api.Api(reg)
      val bound = api.start(port)
      println(s"graft api listening on http://127.0.0.1:$bound " +
        s"(viewer at /viewer, registration at /register)")
      while (true) Thread.sleep(60000)
      0

    case "query" :: kind :: registryRoot :: queryFile :: outDir :: rest
        if kind == "project" || kind == "dataset" =>
      val spark = GraftSession.get()
      validated {
        val queryText = readFile(queryFile)
        val submitter = new Submitter(Registry(spark, registryRoot), flagValue(rest, "--cache"))
        val (name, result) =
          if (kind == "project") {
            val q = Json.parseProjectQuery(queryText); (q.name, submitter.submit(q))
          } else {
            val q = Json.parseDatasetQuery(queryText); (q.name, submitter.submit(q))
          }
        if (rest.contains("--csv"))
          graft.sources.Writers.csv(result, s"$outDir/$name.csv", singleFile = true)
        else
          graft.sources.Writers.parquetAutoPartition(spark, result, s"$outDir/$name.parquet")
        // query sidecar, as the reference writes beside results
        HadoopFs.writeText(spark, s"$outDir/query.json", queryText)
        println(s"wrote $outDir/$name")
      }

    case "registry" :: "list" :: registryRoot :: Nil =>
      val reg = Registry(GraftSession.get(), registryRoot)
      println("datasets:   " + reg.listDatasets().mkString(", "))
      println("dimensions: " + reg.listDimensions().mkString(", "))
      println("mappings:   " + reg.listMappings().mkString(", "))
      0

    case "registry" :: "versions" :: registryRoot :: Nil =>
      Registry.versions(GraftSession.get(), registryRoot).foreach(println)
      0

    case "registry" :: "register-dimension" :: registryRoot :: name :: recordsPath :: rest =>
      val spark = GraftSession.get()
      val rc = validated {
        Registry.registerDimension(
          Registry(spark, registryRoot), name, readTable(spark, recordsPath),
          category = flagValue(rest, "--category").getOrElse("base"))
      }
      if (rc == 0) println(s"registered dimension $name")
      rc

    case "registry" :: "register-mapping" :: registryRoot :: name :: tablePath :: rest =>
      val spark = GraftSession.get()
      val rc = validated {
        Registry.registerMapping(
          Registry(spark, registryRoot), name, readTable(spark, tablePath),
          mappingType = flagValue(rest, "--type")
            .getOrElse(graft.registry.MappingTypes.ManyToOneAggregation),
          validate = !rest.contains("--no-validate"),
          fromDimension = flagValue(rest, "--from-dimension"),
          toDimension = flagValue(rest, "--to-dimension"))
      }
      if (rc == 0) println(s"registered mapping $name")
      rc

    case "registry" :: "register-dataset" :: registryRoot :: datasetId :: dataPath :: rest =>
      val spark = GraftSession.get()
      // every `--dim name=path` pairs a data column with its dimension
      // records, arming the null/unknown-value registration checks
      val dims = rest.sliding(2).collect {
        case List("--dim", spec) if spec.contains("=") =>
          val Array(d, p) = spec.split("=", 2)
          d -> readTable(spark, p)
      }.toMap
      val rc = validated {
        Registry.registerDataset(
          Registry(spark, registryRoot), datasetId, readTable(spark, dataPath),
          lookup = flagValue(rest, "--lookup").map(readTable(spark, _)),
          dimensionRecords = dims,
          validate = !rest.contains("--no-validate"))
      }
      if (rc == 0) println(s"registered dataset $datasetId")
      rc

    case "registry" :: "register-bulk" :: registryRoot :: manifestPath :: rest =>
      val spark = GraftSession.get()
      validated {
        val base = java.nio.file.Paths.get(manifestPath).toAbsolutePath.getParent.toString
        val r = graft.registry.BulkRegister(
          Registry(spark, registryRoot), readFile(manifestPath),
          baseDir = Some(flagValue(rest, "--data-base-dir").getOrElse(base)),
          journalPath = Some(flagValue(rest, "--journal").getOrElse(manifestPath + ".journal.json")))
        println(s"registered ${r.registered.size} (skipped ${r.skipped.size} journaled)")
      }

    // §3.3 composite/derived lifecycle on the command line (ref:
    // dsgrid/cli/query.py:464+ create-composite / query-composite /
    // create-derived-dataset), delegating to the Submitter APIs
    case "query" :: "composite-create" :: registryRoot :: queryFile :: id :: rest =>
      val spark = GraftSession.get()
      val rc = validated {
        val q = Json.parseProjectQuery(readFile(queryFile))
        new Submitter(Registry(spark, registryRoot), flagValue(rest, "--cache"))
          .createCompositeDataset(id, q.datasets)
      }
      if (rc == 0) println(s"created composite dataset $id")
      rc

    case "query" :: "composite-run" :: registryRoot :: id :: queryFile :: outDir :: rest =>
      val spark = GraftSession.get()
      validated {
        val q = Json.parseProjectQuery(readFile(queryFile))
        val result = new Submitter(Registry(spark, registryRoot), flagValue(rest, "--cache"))
          .submitComposite(id, q.result)
        if (rest.contains("--csv"))
          graft.sources.Writers.csv(result, s"$outDir/${q.name}.csv", singleFile = true)
        else
          graft.sources.Writers.parquetAutoPartition(spark, result, s"$outDir/${q.name}.parquet")
        println(s"wrote $outDir/${q.name}")
      }

    case "query" :: "register-derived" :: registryRoot :: queryFile :: id :: rest =>
      val spark = GraftSession.get()
      val rc = validated {
        new Submitter(Registry(spark, registryRoot), flagValue(rest, "--cache"))
          .registerDerivedDataset(id, Json.parseProjectQuery(readFile(queryFile)))
      }
      if (rc == 0) println(s"registered derived dataset $id")
      rc

    // cascade a dimension update through dependent mappings/datasets (ref:
    // registry_auto_updater.py) instead of refusing it
    case "registry" :: "auto-update-dimension" :: registryRoot :: name :: recordsPath :: rest =>
      val spark = GraftSession.get()
      val rc = validated {
        val report = graft.registry.AutoUpdate.updateDimensionCascade(
          Registry(spark, registryRoot), name, readTable(spark, recordsPath),
          category = flagValue(rest, "--category").getOrElse("base"))
        println(s"updated dimension $name" +
          (if (report.updatedMappings.nonEmpty)
            s"; pruned mappings: ${report.updatedMappings.mkString(", ")}" else "") +
          (if (report.updatedDatasets.nonEmpty)
            s"; pruned datasets: ${report.updatedDatasets.mkString(", ")}" else ""))
      }
      rc

    // bootstrap a dataset config from the data (ref:
    // dataset_config_generator.py): writes dataset.json + per-dimension
    // record CSVs to <out-dir>; --register registers everything directly
    case "registry" :: "generate-dataset-config" :: registryRoot :: datasetId :: dataPath :: outDir :: rest =>
      val spark = GraftSession.get()
      val rc = validated {
        val reg = Registry(spark, registryRoot)
        val data = readTable(spark, dataPath)
        val timeCols = flagValue(rest, "--time-cols")
          .map(_.split(",").toSet.filter(_.nonEmpty)).getOrElse(Set("timestamp"))
        val gen = graft.registry.ConfigGen.generateDatasetConfig(reg, datasetId, data, timeCols)
        HadoopFs.writeText(spark, s"$outDir/dataset.json", graft.registry.ConfigGen.toJson(gen))
        gen.newRecords.foreach { case (c, recs) =>
          graft.sources.Writers.csv(recs, s"$outDir/dimensions/$c.csv", singleFile = true)
        }
        if (rest.contains("--register"))
          graft.registry.ConfigGen.registerGenerated(reg, gen, data)
        println(s"generated config for $datasetId at $outDir" +
          (if (rest.contains("--register")) " (registered)" else ""))
      }
      rc

    // bootstrap a runnable project query over existing datasets (ref:
    // project_config_generator.py — graft projects are query documents)
    case "registry" :: "generate-project-query" :: registryRoot :: name :: dsList :: outFile :: Nil =>
      val spark = GraftSession.get()
      val rc = validated {
        val json = graft.registry.ConfigGen.generateProjectQueryJson(
          Registry(spark, registryRoot), name, dsList.split(",").toSeq.filter(_.nonEmpty))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
        println(s"wrote project query template to $outFile")
      }
      rc

    // delete a whole version subtree (ref: dsgrid_admin delete commands)
    case "registry" :: "delete-version" :: registryRoot :: version :: Nil =>
      val rc = validated(Registry.deleteVersion(GraftSession.get(), registryRoot, version))
      if (rc == 0) println(s"deleted $registryRoot/$version")
      rc

    case "registry" :: "remove-dimension" :: registryRoot :: name :: Nil =>
      val rc = validated(Registry.removeDimension(Registry(GraftSession.get(), registryRoot), name))
      if (rc == 0) println(s"removed dimension $name")
      rc

    case "registry" :: "remove-mapping" :: registryRoot :: name :: Nil =>
      val rc = validated(Registry.removeMapping(Registry(GraftSession.get(), registryRoot), name))
      if (rc == 0) println(s"removed mapping $name")
      rc

    case "registry" :: "remove-dataset" :: registryRoot :: datasetId :: Nil =>
      val rc = validated(Registry.removeDataset(Registry(GraftSession.get(), registryRoot), datasetId))
      if (rc == 0) println(s"removed dataset $datasetId")
      rc

    case "registry" :: "dump-dimension" :: registryRoot :: name :: outPath :: Nil =>
      val rc = validated(Registry.dumpDimension(Registry(GraftSession.get(), registryRoot), name, outPath))
      if (rc == 0) println(s"dumped dimension $name to $outPath")
      rc

    case "registry" :: "new-version" :: registryRoot :: fromV :: toV :: Nil =>
      val rc = validated(Registry.newVersion(GraftSession.get(), registryRoot, fromV, toV))
      if (rc == 0) println(s"created $registryRoot/$toV from $fromV")
      rc

    case "registry" :: "check" :: registryRoot :: Nil =>
      val broken = Registry.checkIntegrity(Registry(GraftSession.get(), registryRoot))
      broken.foreach(System.err.println)
      if (broken.nonEmpty) 1
      else { println("registry is consistent"); 0 }

    case "registry" :: "filter" :: srcRoot :: destRoot :: rest =>
      def names(flag: String): Seq[String] =
        flagValue(rest, flag).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      val rc = validated {
        Registry.filterTo(
          Registry(GraftSession.get(), srcRoot), destRoot,
          datasets = names("--datasets"),
          dimensions = names("--dimensions"),
          mappings = names("--mappings"))
      }
      if (rc == 0) println(s"filtered registry written to $destRoot")
      rc

    case _ =>
      System.err.println(
        """usage:  (<registryRoot> may be @<config.json> written by `config create`)
          |  graft.Cli config create <config.json> <registryRoot>
          |  graft.Cli curate <dataDir> <plan.json> <outDir> [--csv] [--cache <dir>] [--dry-run] [--register <registryRoot>]
          |  graft.Cli serve <registryRoot> [port]
          |  graft.Cli query project <registryRoot> <query.json> <outDir> [--csv] [--cache <dir>]
          |  graft.Cli query dataset <registryRoot> <query.json> <outDir> [--csv] [--cache <dir>]
          |  graft.Cli registry list <registryRoot>
          |  graft.Cli registry versions <registryRoot>
          |  graft.Cli registry register-dimension <registryRoot> <name> <records-path> [--category base|subset|supplemental]
          |  graft.Cli registry register-mapping <registryRoot> <name> <table-path> [--type <mappingType>] [--from-dimension <d>] [--to-dimension <d>] [--no-validate]
          |  graft.Cli registry register-dataset <registryRoot> <datasetId> <load-data-path> [--lookup <path>] [--dim <name>=<records-path>]... [--no-validate]
          |  graft.Cli registry register-bulk <registryRoot> <manifest.json> [--journal <path>] [--data-base-dir <dir>]
          |  graft.Cli registry remove-dimension <registryRoot> <name>
          |  graft.Cli registry remove-mapping <registryRoot> <name>
          |  graft.Cli registry remove-dataset <registryRoot> <datasetId>
          |  graft.Cli registry dump-dimension <registryRoot> <name> <out-path[.csv]>
          |  graft.Cli registry new-version <registryRoot> <fromVersion> <toVersion>
          |  graft.Cli registry delete-version <registryRoot> <version>
          |  graft.Cli registry check <registryRoot>
          |  graft.Cli registry filter <srcRoot> <destRoot> [--datasets a,b] [--dimensions x,y] [--mappings m,n]
          |  graft.Cli registry auto-update-dimension <registryRoot> <name> <records-path> [--category c]
          |  graft.Cli registry generate-dataset-config <registryRoot> <datasetId> <data-path> <out-dir> [--time-cols a,b] [--register]
          |  graft.Cli registry generate-project-query <registryRoot> <name> <ds1,ds2,...> <out.json>
          |  graft.Cli query composite-create <registryRoot> <query.json> <id> [--cache <dir>]
          |  graft.Cli query composite-run <registryRoot> <id> <query.json> <outDir> [--csv] [--cache <dir>]
          |  graft.Cli query register-derived <registryRoot> <query.json> <id> [--cache <dir>]""".stripMargin)
      2
  }
}
