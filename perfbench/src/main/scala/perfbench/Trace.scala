package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters summed over the Spark work one span launched. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Rows the scans of the fact table returned (their SQL metric). */
  var factRows = 0L
  var planMs = 0L
  var codegenNs = 0L
}

/** One timed interval of the benchmark: a call into one layer. */
final case class Span(
    id: Int,
    name: String,
    parent: Option[Int],
    run: Int,
    startNs: Long,
    endNs: Long,
    work: Work) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run.
  *
  * Every span gets its own Spark job tag for its duration; a SparkListener
  * sums task metrics per tag and a QueryExecutionListener adds planning
  * time and the rows the fact table's scans returned. Both listeners run on Spark's listener bus, after the fact, so
  * each span ends by draining the bus (a one-task job under a private tag
  * whose end event follows every earlier event on the shared queue). The
  * drain runs after the span's clock stops and is not part of any span.
  *
  * Spans are kept in memory and written out once, by [[writeJsonl]], when
  * the run ends. With `enabled = false` [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val prefix = "perfbench-span-"
  private val drainTag = "perfbench-drain"

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  /** The query iteration spans belong to (0 = set-up). */
  var run = 0
  /** Path fragment naming the fact table, whose scanned rows are counted. */
  var factTable: String = "\u0000"

  private val byTag = new ConcurrentHashMap[String, Work]()
  private val stageTag = new ConcurrentHashMap[Integer, String]()
  @volatile private var currentTag: String = null
  @volatile private var drainLatch = new CountDownLatch(0)

  private val drainJobs = ConcurrentHashMap.newKeySet[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(","))
      if (tags.contains(drainTag)) drainJobs.add(e.jobId)
      // a job inside nested spans carries every open span's tag; it
      // belongs to the innermost, which has the highest id
      else tags.filter(_.startsWith(prefix)).maxByOption(_.stripPrefix(prefix).toInt).foreach { tag =>
        work(tag).jobs += 1
        e.stageIds.foreach(s => stageTag.put(s, tag))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (drainJobs.remove(e.jobId)) drainLatch.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = stageTag.get(e.stageId)
      val m = e.taskMetrics
      if (tag != null && m != null) {
        val w = work(tag)
        w.tasks += 1
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputRows += m.inputMetrics.recordsRead
        w.inputBytes += m.inputMetrics.bytesRead
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val tag = currentTag
      if (tag != null) {
        val w = work(tag)
        w.planMs += qe.tracker.phases.values.map(_.durationMs).sum
        w.factRows += PlanScans.rowsRead(qe.executedPlan, factTable)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  private def work(tag: String): Work = byTag.computeIfAbsent(tag, _ => new Work)

  /** Wait until the listener bus has delivered every event posted so far. */
  private def drain(): Unit = {
    drainLatch = new CountDownLatch(1)
    sc.addJobTag(drainTag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.removeJobTag(drainTag)
    if (!drainLatch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  /** Time `body` as a span named `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val tag = prefix + id
      val parent = stack.headOption
      val outerTag = currentTag
      stack.push(id)
      currentTag = tag
      sc.addJobTag(tag)
      val codegen0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val codegen = CodeGenerator.compileTime - codegen0
        sc.removeJobTag(tag)
        drain()
        currentTag = outerTag
        stack.pop()
        val w = work(tag)
        // compile time is a JVM-wide counter: keep only this span's own
        w.codegenNs += codegen - spans.filter(_.parent.contains(id)).map(_.work.codegenNs).sum
        spans += Span(id, name, parent, run, t0, t1, w)
      }
    }

  /** Self time of a span: its duration minus the time its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent.contains(s.id)).map(_.seconds).sum

  /** The trace, one JSON object per span, written when the run ends. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val origin = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      val counters = Layers.values(s, selfSeconds(s))
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(-1), "run" -> s.run,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9) ++
        Layers.counters.map { case (c, _) => c -> counters(c) }: _*)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}

/** Rows read by the file scans of one table in an executed plan, through
  * adaptive query stages and subqueries. */
object PlanScans extends AdaptiveSparkPlanHelper {
  def rowsRead(plan: SparkPlan, pathFragment: String): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(pathFragment)) =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
