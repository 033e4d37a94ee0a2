package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{HadoopFs, Readers, Writers}

/** The engine's one content-keyed parquet store (ref: the reference's
  * cached_tables layout, dsgrid/query/query_submitter.py:133-171, and its
  * mapping-plan checkpoints, dataset_mapping_manager.py:51-103): query
  * results, mapped datasets, map steps, curation checkpoints and lineage
  * cuts all live under `<base>/<key>/table.parquet`, and each entry,
  * sidecars included, publishes with ONE rename
  * ([[graft.sources.HadoopFs.publishOnce]]) so concurrent submitters never
  * read a half-written entry. An entry that exists is reused, so the key
  * must fold in everything that changes the frame. Hadoop FS API
  * throughout — works on HDFS/S3 the same as local disk. */
private[graft] object FileCache {

  /** Read `<base>/<key>/table.parquet` if present, else build + publish.
    * `sidecars` gets the table as written (read back from the temp entry,
    * so the build runs once) and the temp entry dir, and writes whatever
    * else the entry holds beside the table before it becomes visible.
    * Losing the publish race to a concurrent submitter is fine — read
    * theirs. */
  def cached(spark: SparkSession, base: String, key: String,
      sidecars: (DataFrame, String) => Unit = (_, _) => ())(build: => DataFrame): DataFrame = {
    val path = s"$base/$key/table.parquet"
    if (!HadoopFs.exists(spark, path))
      HadoopFs.publishOnce(spark, s"$base/$key") { entry =>
        Writers.parquet(build, s"$entry/table.parquet")
        sidecars(Readers.parquet(spark, s"$entry/table.parquet"), entry)
      }
    Readers.parquet(spark, path)
  }
}
