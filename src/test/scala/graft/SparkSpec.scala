package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; specs only create tiny in-memory frames). */
object TestSession {
  lazy val spark: SparkSession = graft.tools.Harness.session(cores = 4, logLevel = "ERROR")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // sbt runs suites in PARALLEL threads inside the forked test JVM, and the
  // active-session thread-local is only inherited at thread creation: a pool
  // thread spawned before the first getOrCreate sees getActiveSession=None,
  // and Spark 4's SparkPlan.session is getActiveSession.orNull — a parquet
  // write command then NPEs ("sparkSession is null" in
  // InsertIntoHadoopFsRelationCommand.run; VERIFY_r18 caught it once in
  // TopKSpec). Pin both session slots on whichever thread first touches
  // `spark` in each suite instance (tests of one suite run on that thread).
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    SparkSession.setDefaultSession(s)
    SparkSession.setActiveSession(s)
    s
  }
  import spark.implicits._

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Round-trip a frame through parquet so plan contracts see real scan
    * stages — ConvertToLocalRelation constant-folds projections over local
    * relations, making shuffle/expression-count assertions vacuous. */
  def viaParquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("spec_pq").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df).sortBy(_.mkString("|"))
}
