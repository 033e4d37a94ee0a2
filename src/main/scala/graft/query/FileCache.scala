package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{HadoopFs, Readers}

/** The engine's one content-keyed parquet store (ref: the reference's
  * cached_tables layout, dsgrid/query/query_submitter.py:133-171, and its
  * mapping-plan checkpoints, dataset_mapping_manager.py:51-103): query
  * results, mapped datasets, map steps and curation checkpoints all live
  * under `<base>/<key>/table.parquet`, are written to a temp dir first, and
  * publish with ONE atomic rename so concurrent submitters never read a
  * half-written entry. An entry that exists is reused, so the key must fold
  * in everything that changes the frame. Hadoop FS API throughout — works
  * on HDFS/S3 the same as local disk. */
private[graft] object FileCache {

  /** Read `<base>/<key>/table.parquet` if present, else build + publish.
    * Losing the rename race to a concurrent submitter is fine — read
    * theirs. Careful: Hadoop rename into an EXISTING directory nests the
    * source inside it and returns true, so a lost race must also be
    * detected by looking for our tmp dir under the published entry
    * (otherwise every race leaks a full duplicate table in scratch). */
  def cached(spark: SparkSession, base: String, key: String)(build: => DataFrame): DataFrame = {
    val keyDir = s"$base/$key"
    val path = s"$keyDir/table.parquet"
    if (HadoopFs.exists(spark, path)) Readers.parquet(spark, path)
    else {
      val tmpName = s".tmp_${key}_${java.util.UUID.randomUUID().toString.take(8)}"
      // the tmp dir sits beside the entry, so the rename's parent exists
      val tmp = s"$base/$tmpName"
      build.write.mode("overwrite").parquet(s"$tmp/table.parquet")
      if (!HadoopFs.rename(spark, tmp, keyDir)) HadoopFs.delete(spark, tmp)
      HadoopFs.delete(spark, s"$keyDir/$tmpName")
      Readers.parquet(spark, path)
    }
  }
}
