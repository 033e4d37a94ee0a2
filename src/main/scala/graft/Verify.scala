package graft
import graft.tools.Harness
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration;
    // the driver always passes exactly two args → full catalog)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // Jackson escapes ALL control chars (<0x20): a tab or CR in builder-
    // authored SQL would otherwise make the oracle compare's json.load fail and
    // silently zero the round's correctness.
    Harness.writeArtifact(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }, filtered = false)
    spark.stop()
  }
}
