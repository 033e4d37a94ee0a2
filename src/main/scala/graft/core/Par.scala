package graft.core

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** The engine's one driver-side fan-out for INDEPENDENT Spark actions
  * (fixture writes to disjoint paths, snapshot reads, registry copies and
  * schema reads): overlapping them lets the scheduler back-fill cores
  * while one job drains its tail. Use it only when the iterations touch
  * disjoint state. */
object Par {

  /** `xs.map(f)` run concurrently, results in input order; inline for at
    * most one element. The caller makes the pool (at most 4 threads), so
    * its threads inherit the caller's Spark local properties; each task
    * sets the caller's session active, whatever thread made the pool, and
    * adds one job tag for the call. The first failure interrupts the other
    * tasks, cancels the call's jobs and is rethrown as is. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.sizeIs <= 1) xs.map(f)
    else {
      val session = SparkSession.active
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      val pool = Executors.newFixedThreadPool(math.min(4, xs.size))
      val done = new ExecutorCompletionService[B](pool)
      try {
        val futures = xs.map(a => done.submit { () =>
          SparkSession.setActiveSession(session)
          session.sparkContext.addJobTag(tag)
          f(a)
        })
        xs.foreach(_ => done.take().get())
        futures.map(_.get())
      } catch {
        case e: Throwable =>
          // interrupt first, so no queued task starts a job after the cancel
          pool.shutdownNow()
          session.sparkContext.cancelJobsWithTag(tag)
          throw (e match { case x: ExecutionException => x.getCause; case x => x })
      } finally pool.shutdown()
    }
}
