package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.{BeforeAndAfterAll, Outcome}

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
  // `spark` (suite construction may), and again before every test body,
  // whichever thread runs it.
  lazy val spark: SparkSession = pin(TestSession.spark)

  private def pin(s: SparkSession): SparkSession = {
    SparkSession.setDefaultSession(s)
    SparkSession.setActiveSession(s)
    s
  }

  override def withFixture(test: NoArgTest): Outcome = {
    pin(spark)
    super.withFixture(test)
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

  /** Count the Spark jobs `body` starts. The calling thread carries a
    * fresh job tag while `body` runs (threads it starts inherit it), and
    * only jobs with that tag count, so jobs that suites running in
    * parallel start on the shared context never leak in. Job-start events
    * post asynchronously, but the timed actions are blocking, so after
    * `body` returns we only need to wait for the bus to drain: poll until
    * the counter is stable. */
  def countJobs(body: => Unit): Long = {
    val sc = spark.sparkContext
    val tag = s"count-jobs-${java.util.UUID.randomUUID()}"
    val counter = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag)))
          counter.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      body
      var last = -1L
      var stable = 0
      var spins = 0
      while (stable < 3 && spins < 50) {
        val c = counter.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
        Thread.sleep(100)
        spins += 1
      }
      counter.get()
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
