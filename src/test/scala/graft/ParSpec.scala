package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import graft.core.Par

/** The driver-side fan-out: a failure stops its siblings' jobs, results
  * keep input order, workers run under the caller's session and carry the
  * caller's job tags. */
class ParSpec extends SparkSpec {

  test("the first failure is rethrown as is and cancels a sibling's running job") {
    val sc = spark.sparkContext
    val tag = s"par-spec-${java.util.UUID.randomUUID()}"
    def runningJobs: Set[Int] =
      sc.statusTracker.getActiveJobIds().toSet & sc.statusTracker.getJobIdsForTag(tag).toSet
    val sleepy = udf { (x: Long) => Thread.sleep(30000); x }
    val boom = new IllegalStateException("boom")
    @volatile var thrownAt = 0L
    @volatile var sawJob = false
    sc.addJobTag(tag)
    try {
      val caught = intercept[IllegalStateException] {
        Par.map(Seq(0, 1)) {
          case 0 =>
            sc.setInterruptOnCancel(true)
            spark.range(1).select(sleepy(col("id"))).collect()
            ()
          case _ =>
            val deadline = System.nanoTime() + 20e9.toLong
            while (!sawJob && System.nanoTime() < deadline) {
              sawJob = runningJobs.nonEmpty
              Thread.sleep(50)
            }
            thrownAt = System.nanoTime()
            throw boom
        }
      }
      val returnedAt = System.nanoTime()
      assert(sawJob, "the sibling's job never started")
      assert(caught eq boom)
      assert(returnedAt - thrownAt < 5e9, s"rethrown after ${(returnedAt - thrownAt) / 1e9} s")
      Thread.sleep(2000)
      assert(runningJobs.isEmpty, s"jobs still running: $runningJobs")
    } finally sc.removeJobTag(tag)
  }

  test("results come back in input order when the first task finishes last") {
    val finished = new ConcurrentLinkedQueue[Int]()
    val othersDone = new CountDownLatch(3)
    val out = Par.map(Seq(0, 1, 2, 3)) { i =>
      if (i == 0) {
        othersDone.await(10, TimeUnit.SECONDS)
        finished.add(i)
      } else {
        // record the finish before releasing task 0, so 0 is always last
        finished.add(i)
        othersDone.countDown()
      }
      i * 10
    }
    assert(out == Seq(0, 10, 20, 30))
    assert(finished.asScala.toSeq.last == 0)
  }

  test("Par.map runs every task under the caller's session, whatever thread calls it") {
    val s = spark
    var seen: Seq[Option[SparkSession]] = Nil
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      seen = Par.map(Seq(1, 2, 3))(_ => SparkSession.getActiveSession)
    })
    t.start()
    t.join()
    assert(seen == Seq.fill(3)(Some(s)))
  }

  test("countJobs on the caller counts the jobs its workers start") {
    val jobs = countJobs {
      Par.map(Seq(1, 2, 3))(_ => spark.sparkContext.parallelize(1 to 10, 2).count())
    }
    assert(jobs == 3)
  }
}
