package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Profiles one catalog query with Bench's session and run protocol: the
  * untimed warm-up, then N runs into the noop sink, each printing its wall
  * time and process CPU (on a machine with external load CPU seconds are
  * the stable signal — removed work shrinks CPU even when wall is noise),
  * and then the SQL metrics of every operator in the final AQE plan of the
  * fastest run's noop write, captured by a QueryExecutionListener.
  *
  * Usage: `graft.tools.Profile <sfDir> --query <name> [runs]` (4 runs by
  * default). Only the final write's plan is shown: an iterative query's
  * earlier checkpoints are separate executions.
  */
object Profile {
  // tags each timed write so the listener can tell it from the warm-up's
  // and the query builder's own executions (listener events arrive late)
  private val RunKey = "graft.profile.run"

  private def runOf(qe: QueryExecution): Option[Int] =
    qe.logical.collectFirst { case w: OverwriteByExpression => w.writeOptions.get(RunKey) }
      .flatten.map(_.toInt)

  /** (depth, operator) of an executed plan, looking through AQE wrappers. */
  def operators(plan: SparkPlan, depth: Int = 0): Seq[(Int, SparkPlan)] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan, depth)
    case s: QueryStageExec => operators(s.plan, depth)
    case p => (depth, p) +: p.children.flatMap(operators(_, depth + 1))
  }

  private val units = Map("size" -> " B", "timing" -> " ms", "nsTiming" -> " ns")

  def main(args: Array[String]): Unit = {
    val (dir, name, runs) = args match {
      case Array(d, "--query", n) => (d, n, 4)
      case Array(d, "--query", n, r) => (d, n, r.toInt)
      case _ => sys.error("usage: Profile <sfDir> --query <name> [runs]")
    }
    val query = graft.Queries.all.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))
    val spark = Harness.session(logLevel = "ERROR")
    val written = new LinkedBlockingQueue[(Int, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runOf(qe).foreach(r => written.put(r -> qe))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    Harness.warmUp(spark)
    val samples = (1 to runs).map { i =>
      val s =
        try Harness.timed(query.run(spark, dir).write.format("noop").mode("overwrite")
          .option(RunKey, i.toLong).save())
        finally Harness.reset(spark)
      println(f"[profile] $name run $i: ${s.wall}%.2f s (cpu ${s.cpu}%.1f s)")
      i -> s
    }
    val best = samples.minBy(_._2.wall)._1
    // bounded wait: the event is posted on the listener bus after the write
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    var plan = Option.empty[SparkPlan]
    while (plan.isEmpty && System.nanoTime() < deadline)
      Option(written.poll(1, TimeUnit.SECONDS)).collect { case (`best`, qe) => qe }
        .foreach(qe => plan = Some(qe.executedPlan))
    plan match {
      case None => println(s"[profile] no plan captured for run $best")
      case Some(p) =>
        println(s"[profile] operators of run $best (final plan):")
        operators(p).foreach { case (depth, op) =>
          val ms = op.metrics.toSeq.sortBy(_._1).collect { case (k, m) if m.value > 0 =>
            s"$k=${m.value}${units.getOrElse(m.metricType, "")}"
          }
          println("  " * (depth + 1) + op.nodeName + (if (ms.isEmpty) "" else ms.mkString(" [", ", ", "]")))
        }
    }
    spark.stop()
  }
}
