package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Constants, Par}

/** Registry auto-updater — cascade a dimension update through every
  * dependent object so the registry never needs hand-repair (ref:
  * dsgrid/registry/registry_auto_updater.py:1-316, which walks
  * dimension → mappings → datasets → projects bumping version references).
  *
  * graft's registry versions whole subtrees instead of per-object configs,
  * so "bump the dependents' version references" translates to "rewrite the
  * dependents inside the mutable working version so they stay consistent
  * with the new dimension records":
  *
  *   - mappings declaring the dimension as an endpoint drop rows whose
  *     from_id / to_id no longer resolve;
  *   - datasets carrying a column named after the dimension (the registry's
  *     column↔dimension convention) drop rows whose value no longer
  *     resolves — in load data and lookup tables alike;
  *   - projects are query-time objects here (no stored project configs),
  *     so the reference's third cascade stage has no registry counterpart.
  *
  * Dependents are pruned BEFORE the new records land (the old, wider
  * dimension still resolves everything the pruned dependents reference),
  * so `Registry.checkIntegrity` holds at every intermediate point — there
  * is no window where a reader sees a broken registry.
  *
  * Scale shape: every prune is one semi-join against the new id set
  * (dimension records are metadata-sized — broadcast); rewrites go through
  * the tmp-write-and-swap path so a dependent is never read and truncated
  * in the same job.
  */
object AutoUpdate {

  /** What a cascade touched. `updatedMappings` / `updatedDatasets` name
    * only objects that actually lost rows; untouched dependents are not
    * listed. */
  final case class Report(
      dimension: String,
      updatedMappings: Seq[String],
      updatedDatasets: Seq[String]) {
    def changed: Boolean = updatedMappings.nonEmpty || updatedDatasets.nonEmpty
  }

  /** Re-register dimension `name` with `records`, cascading the update
    * through dependent mappings and datasets instead of refusing it the
    * way `Registry.registerDimension` does when referenced ids disappear.
    *
    * The normal (validated) registration path runs LAST — after the
    * cascade it must find nothing broken, which doubles as the built-in
    * post-condition; `checkIntegrity` is asserted green on completion. */
  def updateDimensionCascade(
      reg: Registry,
      name: String,
      records: DataFrame,
      category: String = "base"): Report = {
    require(reg.listDimensions().contains(name),
      s"updateDimensionCascade: no such dimension '$name' (use registerDimension for a fresh one)")
    val ids = records.select(col("id")).distinct().cache()
    try {
      val mappingsTouched = reg.listMappings().flatMap { m =>
        val (from, to) = reg.mappingEndpoints(m)
        val sides = Seq(
          from.filter(_ == name).map(_ => Constants.FromIdColumn),
          to.filter(_ == name).map(_ => Constants.ToIdColumn)).flatten
        if (sides.isEmpty) None
        else {
          val table = reg.mapping(m)
          val pruned = sides.foldLeft(table) { (t, side) =>
            t.join(broadcast(ids).withColumnRenamed("id", side), Seq(side), "left_semi")
          }
          if (pruned.count() == table.count()) None
          else {
            graft.sources.Writers.overwriteInPlace(
              reg.spark, pruned, s"${reg.root}/mappings/$m/table.parquet")
            Some(m)
          }
        }
      }
      // the dataset sweep is O(#datasets) driver-side schema reads (most
      // datasets don't carry the dimension column and are schema-check
      // only) — run it concurrently; Par.map preserves report order, and
      // prunes write to disjoint per-dataset paths
      val datasetsTouched = Par.map(reg.listDatasets()) { d =>
        val touchedLoad = pruneDatasetTable(reg, ids, name,
          s"${reg.root}/datasets/$d/load_data.parquet")
        val touchedLookup = pruneDatasetTable(reg, ids, name,
          s"${reg.root}/datasets/$d/load_data_lookup.parquet")
        if (touchedLoad || touchedLookup) Some(d) else None
      }.flatten
      // the cascade repaired every dependent, so the VALIDATED registration
      // path must now accept the update; its update-compatibility check is
      // the post-condition that proves the cascade complete
      Registry.registerDimension(reg, name, records, category)
      val broken = Registry.checkIntegrity(reg)
      require(broken.isEmpty,
        s"updateDimensionCascade($name): registry inconsistent after cascade — ${broken.mkString("; ")}")
      Report(name, mappingsTouched, datasetsTouched)
    } finally ids.unpersist()
  }

  /** Prune one dataset table (if it exists and carries the dimension
    * column) to rows whose dimension value still resolves. Returns whether
    * rows were dropped. */
  private def pruneDatasetTable(
      reg: Registry,
      ids: DataFrame,
      dimensionName: String,
      path: String): Boolean = {
    if (!graft.sources.HadoopFs.exists(reg.spark, path)) return false
    val table = graft.sources.Readers.parquet(reg.spark, path)
    if (!table.columns.contains(dimensionName)) return false
    val pruned = table.join(
      broadcast(ids).withColumnRenamed("id", dimensionName), Seq(dimensionName), "left_semi")
    if (pruned.count() == table.count()) false
    else {
      graft.sources.Writers.overwriteInPlace(reg.spark, pruned, path)
      true
    }
  }
}
