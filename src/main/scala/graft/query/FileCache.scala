package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Readers

/** Content-hash-keyed parquet result cache shared by the project-query and
  * curation submitters (ref: the reference's cached_tables layout,
  * dsgrid/query/query_submitter.py:133-171): entries live under
  * `<base>/<key>/table.parquet`, are written to a temp dir first, and
  * publish with ONE atomic rename so concurrent submitters never read a
  * half-written result. Hadoop FS API throughout — works on HDFS/S3 the
  * same as local disk. */
private[query] object FileCache {

  def exists(spark: SparkSession, path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Read `<base>/<key>/table.parquet` if present, else build + publish.
    * Losing the rename race to a concurrent submitter is fine — read
    * theirs. Careful: Hadoop rename into an EXISTING directory nests the
    * source inside it and returns true, so a lost race must also be
    * detected by looking for our tmp dir under the published entry
    * (otherwise every race leaks a full duplicate table in scratch). */
  def cached(spark: SparkSession, base: String, key: String)(build: => DataFrame): DataFrame = {
    val keyDir = s"$base/$key"
    val path = s"$keyDir/table.parquet"
    if (exists(spark, path)) Readers.parquet(spark, path)
    else {
      val tmpName = s".tmp_${key}_${java.util.UUID.randomUUID().toString.take(8)}"
      val tmp = s"$base/$tmpName"
      build.write.mode("overwrite").parquet(s"$tmp/table.parquet")
      val conf = spark.sparkContext.hadoopConfiguration
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val finalPath = new org.apache.hadoop.fs.Path(keyDir)
      val fs = finalPath.getFileSystem(conf)
      fs.mkdirs(finalPath.getParent)
      if (!fs.rename(tmpPath, finalPath)) fs.delete(tmpPath, true)
      val nested = new org.apache.hadoop.fs.Path(finalPath, tmpName)
      if (fs.exists(nested)) fs.delete(nested, true)
      Readers.parquet(spark, path)
    }
  }
}
