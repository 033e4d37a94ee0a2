package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._
import graft.query.Json.{arr, mapper, optStr}

/** One-shot registration of many dimensions / mappings / datasets from a
  * JSON manifest (ref: registry/bulk_register.py + its RegistrationModel),
  * with the reference's resume semantics: successfully registered objects
  * are journaled, a mid-run failure persists the journal and names it, and
  * a re-run against the same journal skips completed work instead of
  * re-registering it.
  *
  * Manifest shape (JSON with // comments and trailing commas tolerated):
  * {{{
  * {
  *   "dimensions": [{"name": "geo", "records": "geo.parquet", "category": "base"}],
  *   "mappings":   [{"name": "c2s", "table": "c2s.parquet",
  *                   "type": "many_to_one_aggregation",
  *                   "from_dimension": "geo", "to_dimension": "state"}],
  *   "datasets":   [{"id": "ds", "load_data": "load.parquet",
  *                   "lookup": "lookup.parquet",
  *                   "dimensions": {"geography": "geo"}}]
  * }
  * }}}
  * Registration order is dimensions → mappings → datasets so later stages
  * can reference earlier ones: a dataset's `dimensions` map pairs a data
  * column with a REGISTERED dimension name, arming the same null /
  * unknown-value checks the Scala API runs. Relative data paths resolve
  * against `baseDir` (ref data_base_dir). */
object BulkRegister {

  final case class Result(registered: Seq[String], skipped: Seq[String])

  private def readTable(spark: SparkSession, path: String): DataFrame =
    Registry.readRegistrationTable(spark, path)

  def apply(
      reg: Registry,
      manifestText: String,
      baseDir: Option[String] = None,
      journalPath: Option[String] = None): Result = {
    val n = mapper.readTree(manifestText)
    def resolve(p: String): String =
      baseDir.filter(_ => !p.startsWith("/") && !p.contains("://")).map(b => s"$b/$p").getOrElse(p)

    val journal = scala.collection.mutable.LinkedHashSet.empty[String]
    journalPath.filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))).foreach { p =>
      val j = mapper.readTree(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
      arr(j, "completed").foreach(e => journal += e.asText())
    }
    val preCompleted = journal.toSet
    def persistJournal(): Unit = journalPath.foreach { p =>
      val node = mapper.createObjectNode()
      val c = node.putArray("completed")
      journal.foreach(c.add)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    }

    val registered = scala.collection.mutable.ArrayBuffer.empty[String]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    // a malformed entry must fail like any other step: journal persisted,
    // IllegalArgumentException (so the CLI reports it, not a stack trace) —
    // a bare NPE while building the step key would skip both
    def reqStr(e: JsonNode, key: String, ctx: String): String =
      optStr(e, key).getOrElse {
        persistJournal()
        throw new IllegalArgumentException(
          s"bulk registration: $ctx entry missing required key '$key'" +
            journalPath.map(p => s" (journal of completed steps: $p)").getOrElse(""))
      }
    def step(key: String)(f: => Unit): Unit =
      if (preCompleted.contains(key)) skipped += key
      else {
        try f
        catch {
          case e: Exception =>
            persistJournal()
            throw new IllegalArgumentException(
              s"bulk registration failed at $key" +
                journalPath.map(p => s" (journal of completed steps: $p)").getOrElse("") +
                s": ${e.getMessage}", e)
        }
        journal += key
        registered += key
      }

    for (d <- arr(n, "dimensions")) {
      val name = reqStr(d, "name", "dimension")
      step(s"dimension/$name") {
        Registry.registerDimension(
          reg, name,
          readTable(reg.spark, resolve(reqStr(d, "records", "dimension"))),
          category = optStr(d, "category").getOrElse("base"))
      }
    }
    for (m <- arr(n, "mappings")) {
      val name = reqStr(m, "name", "mapping")
      step(s"mapping/$name") {
        Registry.registerMapping(
          reg, name,
          readTable(reg.spark, resolve(reqStr(m, "table", "mapping"))),
          mappingType = optStr(m, "type").getOrElse(MappingTypes.ManyToOneAggregation),
          fromDimension = optStr(m, "from_dimension"),
          toDimension = optStr(m, "to_dimension"))
      }
    }
    for (ds <- arr(n, "datasets")) {
      val id = reqStr(ds, "id", "dataset")
      step(s"dataset/$id") {
        val dims = Option(ds.get("dimensions"))
          .map(_.fields().asScala.map(e => e.getKey -> reg.dimensionRecords(e.getValue.asText())).toMap)
          .getOrElse(Map.empty[String, DataFrame])
        Registry.registerDataset(
          reg, id,
          readTable(reg.spark, resolve(reqStr(ds, "load_data", "dataset"))),
          lookup = optStr(ds, "lookup").map(p => readTable(reg.spark, resolve(p))),
          dimensionRecords = dims)
      }
    }
    // a fully successful run needs no resume state
    journalPath.foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    Result(registered.toSeq, skipped.toSeq)
  }
}
